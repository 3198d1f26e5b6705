package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector-similarity primitives over an embedding column (`array<float>`):
  * cosine top-k (brute force) and an LSH-bucketed approximate variant.
  *
  * Scale design:
  *  - Norms are precomputed once per row (projection) so the join computes
  *    only the dot product.
  *  - Brute-force k-NN broadcasts the (small) query set against the
  *    (huge) corpus — a map-side-only join; the only shuffle is the
  *    per-query top-k, which `row_number` + filter turns into
  *    a partial/final TakeOrdered per key under AQE.
  *  - LSH variant buckets by random-hyperplane signs so each query probes
  *    one bucket (corpus/2^bits of the data) instead of everything —
  *    the standard recall/cost dial; at 100 TB add multi-probe on
  *    neighboring buckets.
  *  - All math is double-precision sequential folds (deterministic,
  *    oracle-reproducible); no UDFs, stays inside WholeStageCodegen.
  */
object Similarity {

  /** Cast to array<double> so downstream arithmetic is exact-deterministic. */
  def asDouble(vec: Column): Column = vec.cast("array<double>")

  /** Dot product via the native codegen'd [[graft.functions.DotProduct]]
    * expression (registered by core.Session) — same sequential summation
    * order as a fold, ~10x faster than interpreted higher-order functions.
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine from precomputed norms. */
  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** DuckDB fragment mirroring [[dot]] (same sequential order). */
  def dotSql(a: String, b: String, dim: Int): String =
    s"list_sum(list_transform(generate_series(1, $dim), i -> $a[i] * $b[i]))"

  /** Sign-bit bucket from `bits` dimensions starting at 0-based `startDim`
    * — axis-aligned random-hyperplane LSH (deterministic, no stored
    * hyperplanes). Distinct `startDim`s give the independent bands of an
    * OR-construction.
    */
  def signBucketAt(vec: Column, startDim: Int, bits: Int): Column =
    (0 until bits).map { i =>
      when(element_at(vec, startDim + i + 1) >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  def signBucket(vec: Column, bits: Int): Column = signBucketAt(vec, 0, bits)

  def signBucketAtSql(vec: String, startDim: Int, bits: Int): String =
    (0 until bits)
      .map(i => s"(CASE WHEN $vec[${startDim + i + 1}] >= 0 THEN ${1 << i} ELSE 0 END)")
      .mkString("(", " + ", ")")

  def signBucketSql(vec: String, bits: Int): String = signBucketAtSql(vec, 0, bits)

  /** Adds `v` (double vector) and `nrm` columns. */
  def withNorm(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("v", asDouble(col(vecCol)))
      .withColumn("nrm", l2Norm(col("v")))

  /** Exact micro-unit image of `round(x, roundTo)`: same equivalence
    * classes as the rounded double (the second `round` absorbs the ≤
    * `d·2⁻⁵²` float error of the `×10^roundTo` rescale, exact for
    * |micro| < 2⁵¹), but a LONG — so nearest-centroid argmins can ride a
    * single `min(long)` that HashAggregate partial-aggregates map-side,
    * where a struct/array ordering would fall back to SortAggregate.
    */
  private def micro(x: Column, roundTo: Int): Column =
    round(round(x, roundTo) * math.pow(10, roundTo)).cast("long")

  /** (order, id) → one long key for `min`: order-major, id minor — decodes
    * with `% IdSpan`. Bounds are cheap per-row guards that raise instead
    * of silently mis-ranking if a caller ever exceeds them.
    */
  private val IdSpan = 1L << 32
  private def argminKey(ord: Column, id: Column, maxOrd: Long): Column =
    when(ord >= 0 && ord < maxOrd && id >= 0 && id < IdSpan,
      ord * IdSpan + id)
      .otherwise(raise_error(concat(
        lit("argmin key overflow: ord="), ord.cast("string"),
        lit(" id="), id.cast("string"))))

  /** Per-query top-k of scored candidates via the bounded-heap aggregate
    * [[graft.functions.TopKAgg]] — ships ≤ k candidates per query per
    * mapper instead of window-sorting every scored pair. Tie order
    * (cos_sim desc, nbr_id asc) matches the row_number formulation.
    */
  private def topkPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(call_function("graft_topk", col("cos_sim"), col("nbr_id"), lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("rnk0", "t")))
      .select(col("query_id"), col("t.payload").as("nbr_id"),
        (col("rnk0") + 1).cast("int").as("rank"), col("t.value").as("cos_sim"))

  /** Brute-force cosine top-k: every query row against every corpus row.
    * Ranking uses the ROUNDED cosine with id tie-break so results are
    * reproducible bit-for-bit across engines.
    */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, roundTo: Int = 6): DataFrame = {
    val c = withNorm(corpus, vecCol)
      .select(col(idCol).as("nbr_id"), col("v").as("cv"), col("nrm").as("cn"))
    val q = withNorm(queries, vecCol)
      .select(col(idCol).as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("nbr_id"))
      .withColumn("cos_sim",
        round(cosine(col("qv"), col("cv"), col("qn"), col("cn")), roundTo))
    topkPerQuery(scored, k)
  }

  /** Hard-negative mining for contrastive training: per anchor, the top-k
    * MOST similar corpus vectors whose (rounded) cosine stays BELOW
    * `maxSim` — similar enough to be informative negatives, dissimilar
    * enough not to be unlabeled positives/near-duplicates (the standard
    * false-negative screen in dense-retrieval training, cf. DPR/ANCE).
    *
    * Same distribution shape as [[bruteForceKnn]]: anchors broadcast
    * against the partitioned corpus, the ceiling rides the scored stream
    * before the per-anchor top-k heap, so the shuffle carries only
    * k rows per anchor. The ceiling compares the ROUNDED cosine —
    * bit-reproducible across engines.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, maxSim: Double,
                    roundTo: Int = 6): DataFrame = {
    val c = withNorm(corpus, vecCol)
      .select(col(idCol).as("nbr_id"), col("v").as("cv"), col("nrm").as("cn"))
    val q = withNorm(queries, vecCol)
      .select(col(idCol).as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("nbr_id"))
      .withColumn("cos_sim",
        round(cosine(col("qv"), col("cv"), col("qn"), col("cn")), roundTo))
      .filter(col("cos_sim") < maxSim)
    topkPerQuery(scored, k)
  }

  /** LSH-bucketed approximate top-k: queries only probe corpus rows whose
    * sign-bucket matches. Trades recall for a 2^bits candidate reduction.
    * `probeHamming = 1` adds multi-probe over the one-sign-flip neighbor
    * buckets (recall measured in SimilaritySpec).
    */
  def lshKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, bits: Int = 4, roundTo: Int = 6,
             probeHamming: Int = 0): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= 1, "probeHamming must be 0 or 1")
    val c = withNorm(corpus, vecCol)
      .withColumn("bucket", signBucket(col("v"), bits))
      .select(col(idCol).as("nbr_id"), col("v").as("cv"), col("nrm").as("cn"), col("bucket"))
    val qBase = withNorm(queries, vecCol)
      .withColumn("bucket0", signBucket(col("v"), bits))
      .select(col(idCol).as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("bucket0"))
    // multi-probe (probeHamming=1): also probe the `bits` buckets one
    // sign-flip away — recall lift for bits+1 x candidate cost, no extra
    // hash tables
    val q =
      if (probeHamming == 0) qBase.withColumn("bucket", col("bucket0"))
      else qBase.withColumn("bucket",
        explode(array(col("bucket0") +:
          (0 until bits).map(b => col("bucket0").bitwiseXOR(lit(1 << b))): _*)))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("cos_sim",
        round(cosine(col("qv"), col("cv"), col("qn"), col("cn")), roundTo))
    // no pair duplicates possible: a corpus row has ONE bucket and the
    // probe set {bucket0, bucket0^2^b} contains distinct values
    topkPerQuery(scored, k)
  }

  /** IVF-flat ANN with nprobe=1: assign every corpus vector to its
    * max-cosine centroid (the inverted-file partition), then each query
    * probes ONLY its own centroid's list — corpus/|centroids| of the data,
    * the coarse-quantizer structure of FAISS-style IVF indexes. Centroids
    * are caller-supplied (deterministic subset here; k-means in a real
    * deployment — the query shape is identical). Assignment is a broadcast
    * nested-loop over |centroids| rows with codegen'd dot products; at
    * 100 TB the assignment output is what you'd persist as the index.
    * Ranking uses rounded cosine + id tie-breaks (reproducible).
    */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
             idCol: String, vecCol: String, k: Int, roundTo: Int = 6,
             nProbe: Int = 1): DataFrame = {
    require(nProbe >= 1, "nProbe must be >= 1")
    val cents = withNorm(centroids, vecCol)
      .select(col(idCol).as("cent_id"), col("v").as("centv"), col("nrm").as("centn"))
    // corpus rows live in exactly ONE cell; queries probe their top-nProbe
    // cells (recall dial — measured in SimilaritySpec)
    def assign(df: DataFrame, role: String, cells: Int): DataFrame = {
      val base = withNorm(df, vecCol)
        .select(col(idCol).as(s"${role}_id"), col("v").as(s"${role}v"),
          col("nrm").as(s"${role}n"))
      if (cells == 1) {
        // Corpus-side argmax folded into ONE long key (micro-cos desc via
        // the 2²³ complement, cent_id asc as the minor word — identical
        // winner to the windowed (round(cos,6) desc, id asc)): min(long)
        // partial-aggregates the broadcast product map-side to one row per
        // vector, where a window would shuffle-sort |corpus|·|centroids|
        // rows and a struct ordering would force SortAggregate. The narrow
        // (id, cluster) assignment then re-joins base for the vector
        // payload — a corpus-sized shuffle of two scalars, |centroids|×
        // smaller than what the window moved.
        val asg = base.join(broadcast(cents), lit(true))
          .select(col(s"${role}_id"), argminKey(
            lit(1L << 23) - micro(
              cosine(col(s"${role}v"), col("centv"), col(s"${role}n"), col("centn")),
              roundTo),
            col("cent_id").cast("long"), maxOrd = 1L << 24).as("k"))
          .groupBy(col(s"${role}_id")).agg(min(col("k")).as("k"))
          .select(col(s"${role}_id"), (col("k") % IdSpan).as("cluster_id"))
        base.join(asg, s"${role}_id")
          .select(col(s"${role}_id"), col(s"${role}v"), col(s"${role}n"),
            col("cluster_id"))
      } else {
        val w = Window.partitionBy(col(s"${role}_id"))
          .orderBy(col("cent_cos").desc, col("cent_id").asc)
        base.join(broadcast(cents), lit(true))
          .withColumn("cent_cos",
            round(cosine(col(s"${role}v"), col("centv"), col(s"${role}n"), col("centn")), roundTo))
          .withColumn("crank", row_number().over(w))
          .filter(col("crank") <= cells)
          .select(col(s"${role}_id"), col(s"${role}v"), col(s"${role}n"),
            col("cent_id").as("cluster_id"))
      }
    }
    val corpusAssigned = assign(corpus, "nbr", 1).transform(graft.core.Checkpoint.apply)
    val queriesAssigned = assign(queries, "query", nProbe)
    val scored = corpusAssigned.join(broadcast(queriesAssigned), Seq("cluster_id"))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("cos_sim",
        round(cosine(col("queryv"), col("nbrv"), col("queryn"), col("nbrn")), roundTo))
    topkPerQuery(scored, k)
  }

  /** Lloyd's k-means over the embedding column — trains the IVF coarse
    * quantizer ([[ivfKnn]] centroids) instead of sampling one.
    *
    * Deterministic init: the k rows with the smallest xxhash64(id) (a
    * seeded pseudo-random sample that never changes across reruns).
    * Each iteration: assign every vector to its nearest (max-cosine)
    * centroid — broadcast nested-loop over k rows, codegen'd dot products —
    * then recompute centroids as per-dimension means via posexplode +
    * (cluster, dim) aggregation. Two shuffles per iteration, both keyed
    * small; `localCheckpoint` truncates the iterative lineage.
    *
    * Float caveat: mean aggregation is double summation — results are
    * deterministic per session but not bit-portable across engines, so
    * k-means is spec-tested (inertia must not increase), not oracle-gated;
    * the IVF QUERY path stays oracle-gated with fixed centroids.
    */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int = 3,
                      metric: String = "cosine"): DataFrame = {
    require(metric == "cosine" || metric == "l2", s"unknown metric $metric")
    val base = withNorm(df, vecCol)
      .select(col(idCol).as("row_id"), col("v"), col("nrm"))
      .transform(graft.core.Checkpoint.apply)
    var cents = base
      .withColumn("h", xxhash64(col("row_id")))
      .orderBy(col("h").asc, col("row_id").asc).limit(k)
      .select(monotonically_increasing_id().as("cent_id"),
        col("v").as("centv"), col("nrm").as("centn"))
      .transform(graft.core.Checkpoint.apply)
    // nearest = max cosine, or min L2 (||x||² − 2x·c + ||c||²). L2 is what
    // PQ/ADC codebooks need — cosine training normalizes away the magnitude
    // structure ADC distances depend on.
    val score =
      if (metric == "cosine") cosine(col("v"), col("centv"), col("nrm"), col("centn"))
      else -(col("nrm") * col("nrm") - lit(2.0) * dot(col("v"), col("centv"))
        + col("centn") * col("centn"))
    for (_ <- 1 to iters) {
      val w = Window.partitionBy(col("row_id"))
        .orderBy(col("cent_cos").desc, col("cent_id").asc)
      val assigned = base.join(broadcast(cents), lit(true))
        .withColumn("cent_cos", score)
        .withColumn("crank", row_number().over(w))
        .filter(col("crank") === 1)
        .select(col("cent_id"), col("v"))
      val recomputed = assigned
        .select(col("cent_id"), posexplode(col("v")))
        .groupBy(col("cent_id"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("centv"))
        .withColumn("centn", sqrt(dot(col("centv"), col("centv"))))
      // empty clusters (no assigned vectors this round) keep their previous
      // centroid instead of silently vanishing — callers get exactly k back
      val kept = cents.join(recomputed.select("cent_id"), Seq("cent_id"), "left_anti")
      cents = recomputed.unionByName(kept).transform(graft.core.Checkpoint.apply)
    }
    cents.select(col("cent_id"), col("centv").as("centroid"))
  }

  /** Sum of (1 - cosine) to each vector's nearest centroid — the quantity
    * Lloyd's iterations must not increase.
    */
  def inertia(df: DataFrame, idCol: String, vecCol: String,
              centroids: DataFrame): Double = {
    val base = withNorm(df, vecCol).select(col(idCol).as("row_id"), col("v"), col("nrm"))
    val cents = withNorm(centroids.withColumnRenamed("centroid", "c"), "c")
      .select(col("cent_id"), col("v").as("centv"), col("nrm").as("centn"))
    val w = Window.partitionBy(col("row_id"))
      .orderBy(col("cent_cos").desc, col("cent_id").asc)
    base.join(broadcast(cents), lit(true))
      .withColumn("cent_cos", cosine(col("v"), col("centv"), col("nrm"), col("centn")))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") === 1)
      .agg(sum(lit(1.0) - col("cent_cos")))
      .first().getDouble(0)
  }

  /** Embedding near-duplicate pairs within blocks at cosine ≥ `minCos` —
    * NAIVE all-pairs-within-block form. Block-quadratic: a 10⁷-row block
    * is 10¹⁴ candidate pairs, so this is the small-block/spec-reference
    * formulation only; the production path is [[embeddingNearDupsLsh]]
    * (SimilaritySpec asserts the two agree on the gate corpus).
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        blockCols: Seq[String], minCos: Double,
                        roundTo: Int = 6): DataFrame = {
    val base = withNorm(df, vecCol)
      .select((col(idCol) +: col("v") +: col("nrm") +: blockCols.map(col)): _*)
    val a = base.alias("a")
    val b = base.alias("b")
    val blockCond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col(s"a.$idCol") < col(s"b.$idCol"))(_ && _)
    a.join(b, blockCond)
      .withColumn("cos_sim",
        round(cosine(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")), roundTo))
      .filter(col("cos_sim") >= minCos)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"), col("cos_sim"))
  }

  /** Scale-safe embedding near-dup: banded sign-LSH candidate generation +
    * exact cosine verification (the candidate-verify pattern of the MinHash
    * path, applied to dense vectors).
    *
    * Candidates = pairs sharing ≥ 1 of `bands` sign-bit band buckets (an
    * OR-construction over disjoint dimension ranges; requires
    * `bands·bandBits ≤ dim`). Each band shards a block into 2^bandBits
    * buckets, so per-band candidate volume is ~block²/2^bandBits instead
    * of block² — the equi-join on (band, bucket, block) shuffles by key and
    * never materializes a block-cartesian. Verification recomputes the
    * EXACT rounded cosine on candidates only, so precision is 1; recall is
    * the standard LSH dial (a true pair is missed only if every band
    * differs — for near-identical vectors, localized perturbations leave
    * untouched bands colliding, which is exactly the near-dup regime).
    */
  def embeddingNearDupsLsh(df: DataFrame, idCol: String, vecCol: String,
                           blockCols: Seq[String], minCos: Double,
                           bandBits: Int = 8, bands: Int = 4,
                           roundTo: Int = 6): DataFrame = {
    // Enforce the documented bands·bandBits ≤ dim contract: past-the-end
    // element_at returns null, the sign test falls to otherwise(0), and
    // every out-of-range band degenerates to one constant bucket — the
    // candidate join silently goes block-quadratic (the exact failure mode
    // this path exists to avoid; results would stay correct only because
    // of the exact-cosine verify). One-row metadata probe, not a scan.
    df.select(size(col(vecCol)).as("_dim")).take(1).foreach { r =>
      val dim = r.getInt(0)
      require(bands * bandBits <= dim,
        s"embeddingNearDupsLsh: bands($bands) * bandBits($bandBits) = " +
          s"${bands * bandBits} exceeds vector dim $dim; lower bands/bandBits " +
          "or they index past the vector and LSH degenerates to one bucket")
    }
    val base = withNorm(df, vecCol)
      .select((col(idCol) +: col("v") +: col("nrm") +: blockCols.map(col)): _*)
    // all band buckets in ONE projection over the scan (no per-band rescan)
    val buckets = array((0 until bands).map(b =>
      signBucketAt(col("v"), b * bandBits, bandBits)): _*)
    val banded = base.select(
      (col(idCol) +: blockCols.map(col) :+ posexplode(buckets).as(Seq("band", "bucket"))): _*)
    val ca = banded.alias("ca")
    val cb = banded.alias("cb")
    val cond = blockCols.map(c => col(s"ca.$c") === col(s"cb.$c"))
      .foldLeft(col("ca.band") === col("cb.band") &&
        col("ca.bucket") === col("cb.bucket") &&
        col(s"ca.$idCol") < col(s"cb.$idCol"))(_ && _)
    // distinct BEFORE fetching vectors: multi-band collisions dedup on
    // (id, id) longs, not on 64-double payloads
    val cand = ca.join(cb, cond)
      .select(col(s"ca.$idCol").as("id_a"), col(s"cb.$idCol").as("id_b"))
      .distinct()
    val va = base.select(col(idCol).as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val vb = base.select(col(idCol).as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    cand.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .withColumn("cos_sim",
        round(cosine(col("va"), col("vb"), col("na"), col("nb")), roundTo))
      .filter(col("cos_sim") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** Product-quantization ANN (Jégou et al., PAMI'11): split each vector
    * into `m` subvectors, encode every subvector as its nearest codebook
    * centroid (one byte-sized code per subspace), and answer queries with
    * asymmetric distance computation — per query, a tiny (m × |codebook|)
    * table of exact query-subvector · centroid partial dots, so the
    * approximate score of corpus vector x is a table lookup per subspace,
    * never a touch of x's floats.
    *
    * Why this is THE memory-bound ANN path at 100 TB: codes compress a
    * 64-dim float vector (512 B) to m=8 small ints; the scored join moves
    * only (vec_id, m, code) rows and the broadcast partial table — corpus
    * embeddings are read ONCE at encode time and never again per query.
    *
    * Determinism for the oracle: codebook = caller-provided sample rows
    * (not trained), L2 assignment ranks on the ROUNDED distance with
    * cent_id tie-break, and per-query scores sum the m partials in fixed
    * subspace order (conditional-max pivot), so results are bit-identical
    * across engines and parallelism.
    */
  /** Per-subspace subvector rows: (id, m, subvector) for all `m` slices. */
  private def pqSubs(df: DataFrame, idCol: String, vecCol: String,
                     m: Int, dsub: Int, idAs: String, vAs: String): DataFrame =
    df.select(col(idCol).as(idAs), asDouble(col(vecCol)).as("_v"))
      .select(col(idAs), posexplode(array(
        (0 until m).map(i => slice(col("_v"), i * dsub + 1, dsub)): _*))
        .as(Seq("m", vAs)))

  /** Train per-subspace PQ codebooks with [[kmeansCentroids]] (Lloyd's on
    * each dimension slice) instead of sampling corpus rows — the training
    * step of Jégou PQ. Returns (m, cent_id, cv) rows that slot into
    * [[pqKnnWithCodebooks]]. m small jobs of iters·2 shuffles each; at
    * 100 TB train on a sample — codebooks are distributions, not indexes.
    *
    * Same float caveat as k-means: trained codebooks are deterministic per
    * session but not bit-portable across engines, so the TRAINED path is
    * spec-gated (recall regression) while the oracle gate keeps fixed
    * sample codebooks.
    */
  def pqTrainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                       m: Int = 8, dim: Int = 64, codebookK: Int = 16,
                       iters: Int = 3): DataFrame = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    (0 until m).map { i =>
      val sub = corpus.select(col(idCol).as("row_id"),
        slice(asDouble(col(vecCol)), i * dsub + 1, dsub).as("subv"))
      kmeansCentroids(sub, "row_id", "subv", codebookK, iters, metric = "l2")
        .select(lit(i).as("m"), col("cent_id"), col("centroid").as("cv"))
    }.reduce(_ unionByName _)
  }

  def pqKnn(corpus: DataFrame, queries: DataFrame, codebookSrc: DataFrame,
            idCol: String, vecCol: String, k: Int,
            m: Int = 8, dim: Int = 64, roundTo: Int = 6): DataFrame = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    pqKnnWithCodebooks(corpus, queries,
      pqSubs(codebookSrc, idCol, vecCol, m, dim / m, "cent_id", "cv"),
      idCol, vecCol, k, m, dim, roundTo)
  }

  /** [[pqKnn]] body over prebuilt (m, cent_id, cv) subspace codebooks —
    * shared by the fixed-sample (oracle) and [[pqTrainCodebooks]] paths.
    */
  def pqKnnWithCodebooks(corpus: DataFrame, queries: DataFrame,
                         codebooks: DataFrame, idCol: String, vecCol: String,
                         k: Int, m: Int = 8, dim: Int = 64,
                         roundTo: Int = 6): DataFrame = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    def subs(df: DataFrame, idAs: String, vAs: String): DataFrame =
      pqSubs(df, idCol, vecCol, m, dsub, idAs, vAs)
    val cb = codebooks.select(col("m"), col("cent_id"), col("cv"))
      .transform(graft.core.Checkpoint.apply)
    val rawD2 = dot(col("xv"), col("xv")) - lit(2.0) * dot(col("xv"), col("cv")) +
      dot(col("cv"), col("cv"))
    // Encode argmin as min(ONE long key) — (micro-d2, cent_id), identical
    // winner to the row_number formulation under (round(d2,6) asc, id asc)
    // — so the corpus×codebook product map-side combines to one row per
    // (vec, subspace) inside HashAggregate, where a window would
    // shuffle-sort the full |corpus|·m·|codebook| product and a struct
    // ordering would force SortAggregate.
    val codes = subs(corpus, "vec_id", "xv")
      .join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"),
        argminKey(micro(rawD2, roundTo), col("cent_id").cast("long"),
          maxOrd = 1L << 30).as("k"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(col("k")).as("k"))
      .select(col("vec_id"), col("m"), (col("k") % IdSpan).as("code"))
    val partials = subs(queries, "query_id", "qv")
      .join(broadcast(cb), "m")
      .select(col("query_id"), col("m"), col("cent_id").as("code"),
        dot(col("qv"), col("cv")).as("p"))
    val fixedOrderSum = (0 until m).map(i =>
      coalesce(max(when(col("m") === i, col("p"))), lit(0.0))).reduce(_ + _)
    val scored = codes.join(broadcast(partials), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(round(fixedOrderSum, roundTo).as("approx_dot"))
    scored.groupBy(col("query_id"))
      .agg(call_function("graft_topk",
        col("approx_dot"), col("vec_id"), lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("rnk0", "t")))
      .select(col("query_id"), col("t.payload").as("nbr_id"),
        (col("rnk0") + 1).cast("int").as("rank"), col("t.value").as("approx_dot"))
  }

  /** IVF-PQ ANN — the `IndexIVFPQ` two-level quantizer (Jégou et al.,
    * "Product Quantization for Nearest Neighbor Search", §IVFADC)
    * re-expressed as dataframe joins. A coarse quantizer partitions the
    * corpus into inverted-file cells (max-cosine assignment, one cell per
    * vector, same argmin-as-`min(long key)` map-side fold as [[ivfKnn]]),
    * and each vector's RESIDUAL against its cell centroid is
    * product-quantized with codebooks shared across cells — built here
    * from the codebook source rows' own residuals, i.e. trained on the
    * residual distribution, exactly what IVFADC prescribes. A query
    * probes its assigned cell and scores members by the asymmetric
    * decomposition
    *   dot(q, x̂) = dot(q, c_cell) + Σ_m dot(q_m, cv_m(code_m(x)))
    * — one scalar per (query, cell) plus m table lookups; the original
    * corpus floats are never touched at query time.
    *
    * SCALE: the queryable index is (vec_id, cell, m codes) — ~m bytes
    * per vector, the representation that fits a billion vectors in a
    * cluster's memory where raw floats don't. Query-side tables (cell
    * dots + ADC partials) are |queries|-sized broadcasts; the build side
    * is one corpus scan with map-side argmin aggregation per stage.
    * Determinism: micro-unit argmin keys with id tie-breaks, fixed-order
    * partial sums, round-`roundTo` scores — bit-stable across engines and
    * partitionings (DuckDB hash-gated as `q_knn_ivfpq`).
    */
  def ivfPqKnn(corpus: DataFrame, queries: DataFrame, coarseSrc: DataFrame,
               codebookSrc: DataFrame, idCol: String, vecCol: String, k: Int,
               m: Int = 8, dim: Int = 64, roundTo: Int = 6): DataFrame = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    val cents = withNorm(coarseSrc, vecCol)
      .select(col(idCol).as("cell_id"), col("v").as("cellv"),
        col("nrm").as("celln"))
    // nearest coarse cell per vector (argmin folded to min(long) so the
    // broadcast product partial-aggregates map-side, as in ivfKnn)
    def assignCell(df: DataFrame, role: String): DataFrame = {
      val base = withNorm(df, vecCol)
        .select(col(idCol).as(s"${role}_id"), col("v"), col("nrm"))
      val asg = base.join(broadcast(cents), lit(true))
        .select(col(s"${role}_id"), argminKey(
          lit(1L << 23) - micro(
            cosine(col("v"), col("cellv"), col("nrm"), col("celln")), roundTo),
          col("cell_id").cast("long"), maxOrd = 1L << 24).as("kk"))
        .groupBy(col(s"${role}_id")).agg(min(col("kk")).as("kk"))
        .select(col(s"${role}_id"), (col("kk") % IdSpan).as("cluster_id"))
      base.join(asg, s"${role}_id")
        .select(col(s"${role}_id"), col("v"), col("cluster_id"))
    }
    val cellVecs = cents.select(col("cell_id").as("cluster_id"), col("cellv"))
    // (id, cell, m, residual subvector): x − c_cell sliced into subspaces
    def residualSubs(df: DataFrame, role: String): DataFrame =
      assignCell(df, role)
        .join(broadcast(cellVecs), "cluster_id")
        .withColumn("rv", zip_with(col("v"), col("cellv"), _ - _))
        .select(col(s"${role}_id"), col("cluster_id"), posexplode(array(
          (0 until m).map(i => slice(col("rv"), i * dsub + 1, dsub)): _*))
          .as(Seq("m", "xv")))
    // shared residual codebooks: the sample rows' residuals per subspace
    val cb = residualSubs(codebookSrc, "cent")
      .select(col("m"), col("cent_id"), col("xv").as("cv"))
      .transform(graft.core.Checkpoint.apply)
    val rawD2 = dot(col("xv"), col("xv")) - lit(2.0) * dot(col("xv"), col("cv")) +
      dot(col("cv"), col("cv"))
    // the IVF-PQ index: per (vector, subspace) the nearest residual code
    val codes = residualSubs(corpus, "nbr")
      .join(broadcast(cb), "m")
      .select(col("nbr_id"), col("cluster_id"), col("m"),
        argminKey(micro(rawD2, roundTo), col("cent_id").cast("long"),
          maxOrd = 1L << 30).as("kk"))
      .groupBy(col("nbr_id"), col("cluster_id"), col("m"))
      .agg(min(col("kk")).as("kk"))
      .select(col("nbr_id"), col("cluster_id"), col("m"),
        (col("kk") % IdSpan).as("code"))
    // query-side tables: one cell dot per query + the ADC partial table
    val qCell = assignCell(queries, "query")
      .join(broadcast(cellVecs), "cluster_id")
      .select(col("query_id"), col("cluster_id"),
        dot(col("v"), col("cellv")).as("pc"))
    val partials = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("_v"))
      .select(col("query_id"), posexplode(array(
        (0 until m).map(i => slice(col("_v"), i * dsub + 1, dsub)): _*))
        .as(Seq("m", "qv")))
      .join(broadcast(cb), "m")
      .select(col("query_id"), col("m"), col("cent_id").as("code"),
        dot(col("qv"), col("cv")).as("p"))
    val fixedOrderSum = (0 until m).map(i =>
      coalesce(max(when(col("m") === i, col("p"))), lit(0.0))).reduce(_ + _)
    val scored = codes
      .join(broadcast(qCell), Seq("cluster_id"))
      .filter(col("nbr_id") =!= col("query_id"))
      .join(broadcast(partials), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("nbr_id"))
      .agg(round(max(col("pc")) + fixedOrderSum, roundTo).as("approx_dot"))
    scored.groupBy(col("query_id"))
      .agg(call_function("graft_topk",
        col("approx_dot"), col("nbr_id"), lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("rnk0", "t")))
      .select(col("query_id"), col("t.payload").as("nbr_id"),
        (col("rnk0") + 1).cast("int").as("rank"), col("t.value").as("approx_dot"))
  }
}
