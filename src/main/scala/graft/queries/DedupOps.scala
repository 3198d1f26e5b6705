package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Dedup, Hashing, Similarity, TextAnalysis => TA}

/** Deduplication operator queries (beyond-parity training-data ops).
  *
  * The driver's `documents`/`embeddings` tables contain no natural
  * duplicates, so each query seeds deterministic copies first — exact copies
  * for exact dedup, truncated texts / perturbed vectors for near-dup — in a
  * way the DuckDB oracle reproduces verbatim. The dedup logic itself lives
  * in [[graft.ops.Dedup]] / [[graft.ops.Similarity]].
  */
object DedupOps {

  type Q = (SparkSession, String) => DataFrame

  /** documents ∪ exact copies of every doc_id % mod == 0 (id offset 100000).
    *
    * `spread = true` hash-repartitions the unsplittable single-file scan by
    * doc_id before the union (guide §2.5 input skew; no-op at scale by the
    * metadata size test — see core.Spread). Opt-in per query: only worth
    * the extra exchange where the downstream per-doc kernel work dominates.
    */
  private def corpusExact(s: SparkSession, d: String, mod: Int,
                          spread: Boolean = false): DataFrame = {
    val docs0 = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    val docs = if (spread)
      docs0.transform(graft.core.Spread.pinByKey(s, d, Seq("documents"), Seq(col("doc_id"))))
    else docs0
    docs.unionByName(
      docs.filter(col("doc_id") % mod === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("lang"), col("text")))
  }

  private def corpusExactSql(mod: Int): String =
    s"""corpus AS (
      |  SELECT doc_id, lang, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, lang, text FROM documents WHERE doc_id % $mod = 0)""".stripMargin

  /** documents ∪ near-dup copies (last 5 tokens dropped) of doc_id % mod == 0. */
  private def corpusNear(s: SparkSession, d: String, mod: Int,
                         spread: Boolean = false): DataFrame = {
    val docs0 = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    val docs = if (spread)
      docs0.transform(graft.core.Spread.pinByKey(s, d, Seq("documents"), Seq(col("doc_id"))))
    else docs0
    val toks = TA.tokens(col("text"))
    val trunc = array_join(slice(toks, lit(1), greatest(size(toks) - 5, lit(3))), " ")
    docs.unionByName(
      docs.filter(col("doc_id") % mod === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("lang"), trunc.as("text")))
  }

  private def corpusNearSql(mod: Int): String =
    s"""corpus AS (
      |  SELECT doc_id, lang, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, lang,
      |    array_to_string(toks[1:greatest(len(toks) - 5, 3)], ' ')
      |  FROM (SELECT doc_id, lang, ${TA.tokensSql("text")} AS toks FROM documents)
      |  WHERE doc_id % $mod = 0)""".stripMargin

  // ---------------------------------------------------------------- exact

  /** Exact dedup: hash-groupBy on content, keep min id. */
  def dedupExact: Q = (s, d) =>
    Dedup.exactGroups(corpusExact(s, d, 5), "doc_id", "text")
      .orderBy(col("text_hash"))

  val dedupExactSql: String =
    s"""WITH ${corpusExactSql(5)}
      |SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM corpus GROUP BY md5(text) ORDER BY text_hash""".stripMargin

  // -------------------------------------------------------------- minhash

  private val NumPerm = 8
  private val BandRows = 2

  /** MinHash + LSH banding near-dup pairs (est. Jaccard from 8 perms). */
  def dedupMinhash: Q = (s, d) =>
    Dedup.minhashNearDups(corpusNear(s, d, 7), "doc_id", "text",
        numPerm = NumPerm, shingleN = 3, bandRows = BandRows, minJaccard = 0.25)
      .orderBy(col("id_a"), col("id_b"))

  /** The minhash-pair oracle machinery, parameterized over the corpus
    * fixture and an extra pair predicate so [[dedupIncrementalSql]] can
    * restrict to pairs touching the new batch without duplicating the
    * WITH chain.
    */
  private def minhashPairsSql(extraPairCond: String,
                              corpusSql: String = corpusNearSql(7)): String = {
    val sigExprs = (0 until NumPerm).map { i =>
      s"list_min(list_transform(hs, h -> (h * ${Dedup.permA(i)} + ${Dedup.permB(i)}) % ${Dedup.PermMod}))"
    }.mkString("[", ", ", "]")
    val bandIdx = (0 until NumPerm / BandRows).mkString("[", ",", "]")
    s"""WITH $corpusSql,
      |tok AS (SELECT doc_id, ${TA.tokensSql("text")} AS toks FROM corpus),
      |sh AS (SELECT doc_id, ${TA.shinglesSql("toks", 3)} AS shingles FROM tok),
      |hsh AS (SELECT doc_id, list_transform(shingles, s -> ${Hashing.md5LongSql("s")} & ${Dedup.HashMask}) AS hs FROM sh),
      |sig AS (SELECT doc_id, $sigExprs AS sigs FROM hsh),
      |band AS (SELECT doc_id, sigs, b,
      |    CAST(sigs[2*b+1] AS VARCHAR) || ',' || CAST(sigs[2*b+2] AS VARCHAR) AS bkey
      |  FROM sig CROSS JOIN (SELECT unnest($bandIdx) AS b)),
      |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |    a.sigs AS sa, b.sigs AS sb
      |  FROM band a JOIN band b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id$extraPairCond),
      |est AS (SELECT id_a, id_b,
      |    floor(CAST(list_sum(list_transform(generate_series(1, $NumPerm),
      |      i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) AS DOUBLE) / $NumPerm * 10000 + 0.5) / 10000 AS est_jaccard
      |  FROM pairs)
      |SELECT id_a, id_b, est_jaccard FROM est
      |WHERE est_jaccard >= 0.25 ORDER BY id_a, id_b""".stripMargin
  }

  val dedupMinhashSql: String = minhashPairsSql("")

  // ---------------------------------------------------- incremental dedup

  /** The 100 TB dedup MODE: a new batch (truncated near-dup variants of
    * every 7th doc) arrives and is deduped against the existing corpus
    * through its PERSISTED LSH band index — the corpus is probed, never
    * self-joined. Batch ids are NEGATED (-doc_id - 1): corpus ids are
    * non-negative at every scale factor, so `doc_id < 0` is a scale-proof
    * batch marker (an additive offset collides with genuine ids once the
    * corpus outgrows it — found at sf1). The oracle is the full-corpus
    * pair set restricted to pairs touching the batch: incremental probing
    * must find exactly what a from-scratch rerun would, at per-batch cost.
    */
  def dedupIncremental: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    val toks = TA.tokens(col("text"))
    val trunc = array_join(slice(toks, lit(1), greatest(size(toks) - 5, lit(3))), " ")
    val batch = docs.filter(col("doc_id") % 7 === 0)
      .select((-col("doc_id") - 1).as("doc_id"), col("lang"), trunc.as("text"))
    val corpusIdx = Dedup.minhashBandIndex(docs, "doc_id", "text",
      numPerm = NumPerm, shingleN = 3, bandRows = BandRows)
    Dedup.incrementalMinhashNearDups(corpusIdx, batch, "doc_id", "text",
        numPerm = NumPerm, shingleN = 3, bandRows = BandRows, minJaccard = 0.25)
      .orderBy(col("id_a"), col("id_b"))
  }

  private val corpusIncrSql: String =
    s"""corpus AS (
      |  SELECT doc_id, lang, text FROM documents
      |  UNION ALL
      |  SELECT -doc_id - 1, lang,
      |    array_to_string(toks[1:greatest(len(toks) - 5, 3)], ' ')
      |  FROM (SELECT doc_id, lang, ${TA.tokensSql("text")} AS toks FROM documents)
      |  WHERE doc_id % 7 = 0)""".stripMargin

  val dedupIncrementalSql: String =
    minhashPairsSql(" AND (a.doc_id < 0 OR b.doc_id < 0)", corpusIncrSql)

  // -------------------------------------------------------------- simhash

  private val SimBits = 48
  private val MaxHamming = 3

  /** Size-adaptive near-dup formulation pick — the dedup family's version
    * of [[ssjoinPrefixMode]] / `GraphOps.copartitionMode`: the DIRECT
    * (block-quadratic) joins win on small corpora, but their candidate
    * volume is quadratic in block / duplicate mass, so above
    * `spark.graft.neardup.directMaxInputBytes` (default 2 MiB of documents
    * input; sf1's 153 s vs 8 s measured the crossover) the scale-safe form
    * takes over: the banded multi-index for simhash (recall EXACTLY 1 by
    * pigeonhole — a pure planner decision). (Low-threshold Jaccard does
    * NOT dial: see [[dedupNgramJaccard]] — the inverted-index join is
    * already the exact at-scale form there.) A threshold of 0 forces the
    * scale form, `Long.MaxValue` the direct one.
    */
  private[graft] def neardupScaleMode(s: SparkSession, d: String): Boolean =
    documentsBytes(s, d) > s.conf.get(
      "spark.graft.neardup.directMaxInputBytes", (2L << 20).toString).toLong

  /** On-disk bytes of the documents table under `d` — metadata-only. */
  private def documentsBytes(s: SparkSession, d: String): Long =
    graft.core.InputSize.bytes(s, d, Seq("documents.parquet"))

  /** SimHash near-dup pairs blocked by lang — THE production entry point,
    * at the scale-sane radius (Hamming ≤ 3 of 48 bits, the Manku web-dedup
    * regime): [[neardupScaleMode]] picks the direct self-join below the
    * size threshold and the banded multi-index above it. Banding is recall
    * EXACTLY 1 (pigeonhole), so BOTH modes hash-match the same naive
    * oracle — the dial is a pure physical-plan decision, like a join
    * strategy pick. The wide-radius parity form (8 of 32) stays gated as
    * [[dedupSimhashWide]].
    */
  def dedupSimhash: Q = (s, d) => {
    val corpus = corpusNear(s, d, 7)
    (if (neardupScaleMode(s, d))
       Dedup.simhashNearDupsBanded(corpus, "doc_id", "text",
         blockCols = Seq("lang"), bits = SimBits, maxHamming = MaxHamming)
     else
       Dedup.simhashNearDups(corpus, "doc_id", "text",
         blockCols = Seq("lang"), bits = SimBits, maxHamming = MaxHamming))
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** WIDE-RADIUS simhash (Hamming ≤ 8 of 32 bits) — the parity semantics
    * at a radius that admits no selective exact banding (pigeonhole needs
    * maxHamming+1 segments; 32/9 ≈ 3-bit segments shard a block 8 ways —
    * no better than the direct join), so the at-scale contract is "narrow
    * the radius, widen the hash" ([[dedupSimhash]]'s 48/3), never "band
    * the loose params". Gated on [[Dedup.simhashNearDupsTiled]]: the same
    * O(N²/2) comparisons, but as tight per-task bitCount loops over a
    * linear (N·tiles) shuffle instead of N² materialized join rows —
    * row-identical to the join baseline (DedupSpec) at ~40x its sf1
    * wall. [[Dedup.simhashNearDups]] stays as the executable join-form
    * spec.
    */
  def dedupSimhashWide: Q = (s, d) =>
    Dedup.simhashNearDupsTiled(corpusNear(s, d, 7), "doc_id", "text",
        blockCols = Seq("lang"), bits = 32, maxHamming = 8)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
      .orderBy(col("id_a"), col("id_b"))

  /** Naive all-pairs simhash oracle for any (bits, maxHamming) — shared
    * by the parity gate and the banded at-scale gate (whose pigeonhole
    * candidates are EXACTLY recall-1, so the same naive SQL oracles both).
    */
  private def simhashSqlFor(bits: Int, maxHamming: Int): String = {
    val h = Hashing.md5LongSql("t")
    val votes = (0 until bits).map { b =>
      s"list_sum(list_transform(hs, h -> CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END)) AS c$b"
    }.mkString(",\n    ")
    val assemble = (0 until bits).map { b =>
      s"(CASE WHEN c$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    s"""WITH ${corpusNearSql(7)},
      |tok AS (SELECT doc_id, lang, ${TA.tokensSql("text")} AS toks FROM corpus),
      |hs AS (SELECT doc_id, lang, list_transform(toks, t -> $h) AS hs FROM tok),
      |votes AS (SELECT doc_id, lang,
      |    $votes
      |  FROM hs),
      |sim AS (SELECT doc_id, lang, $assemble AS simhash FROM votes)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      |FROM sim a JOIN sim b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming
      |ORDER BY id_a, id_b""".stripMargin
  }

  val dedupSimhashSql: String = simhashSqlFor(SimBits, MaxHamming)

  val dedupSimhashWideSql: String = simhashSqlFor(32, 8)

  /** The AT-SCALE simhash path gated end to end: banded multi-index
    * candidates (48-bit hash, Hamming ≤ 3 — four 12-bit segments, recall
    * exactly 1 by pigeonhole) + bit_count verify, against the naive
    * all-pairs oracle at the same params. This is the form that replaces
    * the parity gate's block-quadratic self-join on a duplicate-heavy
    * corpus (sf1 measured the difference; see SCALE.md).
    */
  def dedupSimhashBanded: Q = (s, d) =>
    Dedup.simhashNearDupsBanded(corpusNear(s, d, 7), "doc_id", "text",
        blockCols = Seq("lang"), bits = 48, maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
      .orderBy(col("id_a"), col("id_b"))

  val dedupSimhashBandedSql: String = simhashSqlFor(48, 3)

  // -------------------------------------------------- n-gram Jaccard exact

  /** Size-adaptive SSJoin formulation pick, mirroring the graph trio's
    * `GraphOps.copartitionMode`: the DIRECT shingle equi-join wins on small
    * corpora (the prefix path's 3 extra shuffle stages cost more than the
    * pruning saves — measured 2x at sf0.01), but its candidate volume is
    * Σ df² per shingle, quadratic in the duplicate mass, so above
    * `spark.graft.ssjoin.directMaxInputBytes` (default 2 MiB of documents
    * input; sf1 ≈ 5.8 MiB measured the crossover) the prefix-filtered
    * form takes over; a threshold of 0 forces prefix, `Long.MaxValue`
    * direct. DedupSpec proves the formulations pair-identical, so the
    * switch is a pure planner decision.
    */
  private[graft] def ssjoinPrefixMode(s: SparkSession, d: String): Boolean =
    documentsBytes(s, d) > s.conf.get(
      "spark.graft.ssjoin.directMaxInputBytes", (2L << 20).toString).toLong

  /** 3-gram Jaccard pairs blocked by lang at J ≥ 0.3. Deliberately NOT
    * routed through [[ssjoinPrefixMode]]: at t = 0.3 the SSJoin prefix is
    * `n − ⌈0.3n⌉ + 1` ≈ 70% of every set, so the prefix form's extra
    * stages cost more than its weak pruning saves at EVERY size (measured
    * 3.4x slower at sf1) — prefix filtering pays off at high thresholds
    * (the containment gate's t = 0.8 flips to it). For LOW-threshold
    * Jaccard (t = 0.3 here) the inverted-index self-join with the
    * in-join size prune IS the exact at-scale form, at every SF:
    *  - prefix filtering degenerates at low t (the pigeonhole prefix is
    *    |s| − ⌈t·|s|⌉ + 1 ≈ 0.7·|s| — nearly the whole set; measured at
    *    30× scale it re-derived the full candidate blowup and spilled to
    *    disk-full);
    *  - MinHash-LSH is sublinear but PROBABILISTIC (recall 1−(1−J)^16):
    *    the same 30× run produced one organic J=0.36 pair whose 16 bands
    *    all missed — a documented caveat, but a hash break. LSH stays
    *    available as [[Dedup.ngramJaccardPairsLsh]] for recall-tolerant
    *    pipelines.
    * The direct join's cost is Θ(co-occurring, size-compatible pairs) —
    * the problem's own output-sensitive lower bound (the oracle pays the
    * same); measured at 30× scale: 1.05 G join rows / 337 M co-occurring
    * pairs → 2.9 M results, minutes on 32 cores, no pathological spill.
    */
  def dedupNgramJaccard: Q = (s, d) =>
    Dedup.ngramJaccardPairs(corpusNear(s, d, 7, spread = true), "doc_id", "text",
      blockCols = Seq("lang"), shingleN = 3, minJaccard = 0.3)
      .orderBy(col("id_a"), col("id_b"))

  val dedupNgramJaccardSql: String =
    s"""WITH ${corpusNearSql(7)},
      |tok AS (SELECT doc_id, lang, ${TA.tokensSql("text")} AS toks FROM corpus),
      |shs AS (SELECT doc_id, lang,
      |    list_distinct(${TA.shinglesSql("toks", 3)}) AS sh FROM tok),
      |sh AS (SELECT doc_id, lang, unnest(sh) AS s FROM shs),
      |sz AS (SELECT doc_id, len(sh) AS n_sh FROM shs),
      |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |j AS (SELECT id_a, id_b,
      |    floor(CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter) * 10000 + 0.5) / 10000 AS jaccard
      |  FROM inter
      |  JOIN sz na ON na.doc_id = id_a
      |  JOIN sz nb ON nb.doc_id = id_b)
      |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.3
      |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-dup pairs: embeddings ∪ perturbed copies
    * (+0.5 on dim 1) of vec_id % 9 == 0, blocked by label, cosine ≥ 0.8.
    *
    * Routed through the banded-LSH candidate path
    * ([[Similarity.embeddingNearDupsLsh]]) — candidate generation by
    * (band, bucket) equi-join + exact cosine verify — NOT the
    * block-quadratic all-pairs form, which at a 10⁷-row block would be
    * 10¹⁴ pairs. DedupSpec asserts the two forms agree on this corpus;
    * PlanSpec asserts the plan joins on bucket keys, not a block
    * cartesian.
    */
  def dedupEmbedding: Q = (s, d) => {
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), Similarity.asDouble(col("embedding")).as("v"))
    val perturbed = base.filter(col("vec_id") % 9 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("label"),
        concat(array(element_at(col("v"), 1) + lit(0.5)), slice(col("v"), 2, 63)).as("v"))
    Similarity.embeddingNearDupsLsh(base.unionByName(perturbed),
        "vec_id", "v", blockCols = Seq("label"), minCos = 0.8,
        bandBits = 8, bands = 4)
      .orderBy(col("id_a"), col("id_b"))
  }

  val dedupEmbeddingSql: String = {
    val dotAB = Similarity.dotSql("a.v", "b.v", 64)
    val dotVV = Similarity.dotSql("v", "v", 64)
    s"""WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |corpus AS (
      |  SELECT vec_id, label, v FROM base
      |  UNION ALL
      |  SELECT vec_id + 100000, label, [v[1] + 0.5] || v[2:64] FROM base WHERE vec_id % 9 = 0),
      |n AS (SELECT vec_id, label, v, sqrt($dotVV) AS nrm FROM corpus),
      |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    round($dotAB / (a.nrm * b.nrm), 6) AS cos_sim
      |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
      |SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.8
      |ORDER BY id_a, id_b""".stripMargin
  }

  // -------------------------------------------------- containment (Broder)

  /** Asymmetric containment pairs at C ≥ 0.8: the truncated copies are
    * SUBSETS of their originals (containment 1.0) even where Jaccard
    * drops with the length gap — the embedded-duplication screen.
    * Size-adaptive like the Jaccard gate: the at-scale path is the
    * probing-prefix form ([[Dedup.ngramContainmentPairsPrefix]]).
    */
  def dedupContainment: Q = (s, d) =>
    (if (ssjoinPrefixMode(s, d))
       Dedup.ngramContainmentPairsPrefix(corpusNear(s, d, 7, spread = true), "doc_id", "text",
         blockCols = Seq("lang"), shingleN = 3, minContainment = 0.8)
     else
       Dedup.ngramContainmentPairs(corpusNear(s, d, 7, spread = true), "doc_id", "text",
         blockCols = Seq("lang"), shingleN = 3, minContainment = 0.8))
      .orderBy(col("id_a"), col("id_b"))

  val dedupContainmentSql: String =
    s"""WITH ${corpusNearSql(7)},
      |tok AS (SELECT doc_id, lang, ${TA.tokensSql("text")} AS toks FROM corpus),
      |shs AS (SELECT doc_id, lang,
      |    list_distinct(${TA.shinglesSql("toks", 3)}) AS sh FROM tok),
      |sh AS (SELECT doc_id, lang, unnest(sh) AS s FROM shs),
      |sz AS (SELECT doc_id, len(sh) AS n_sh FROM shs),
      |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |c AS (SELECT id_a, id_b,
      |    floor(CAST(n_inter AS DOUBLE) / least(na.n_sh, nb.n_sh) * 10000 + 0.5) / 10000 AS containment
      |  FROM inter
      |  JOIN sz na ON na.doc_id = id_a
      |  JOIN sz nb ON nb.doc_id = id_b)
      |SELECT id_a, id_b, containment FROM c WHERE containment >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------- common substrings (winnowing join)

  /** Cross-document repeated-substring detection — the winnowing-granular
    * version of exact-substring dedup (Lee et al.'s "Deduplicating Training
    * Data Makes Language Models Better" signal): documents sharing ≥ 3
    * winnowing fingerprints (k=3-word shingles, window 4) share verbatim
    * text regions, even when the documents as wholes are dissimilar.
    *
    * SCALE: fingerprints whose document frequency exceeds `maxDf` (corpus
    * boilerplate — headers, license blocks) are dropped BEFORE the
    * self-join, exactly the stop-fingerprint screen real pipelines use:
    * the join blowup is Σ df², so capping df (≤ 10) caps the quadratic
    * term while genuinely-shared rare substrings always survive. One
    * explode + one df-aggregation + one equi-join on the fingerprint
    * value, all keyed shuffles.
    */
  def commonSubstrings: Q = (s, d) => {
    // materialized once: the fingerprint stream feeds the df table AND both
    // join sides — without the checkpoint the winnowing recomputes 4x
    val fp = TA.withWinnowFingerprintsNative(corpusNear(s, d, 7, spread = true),
        "text", k = 3, w = 4, out = "fps")
      .select(col("doc_id"), explode(col("fps")).as("fp"))
      .transform(graft.core.Checkpoint.apply)
    val rare = fp.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 10)
    val pruned = fp.join(rare.select(col("fp")), Seq("fp"))
    val a = pruned.alias("a")
    val b = pruned.alias("b")
    a.join(b, col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy(col("id_a"), col("id_b"))
  }

  val commonSubstringsSql: String = {
    val sh = TA.shinglesSql("toks", 3)
    val h = Hashing.md5LongSql("s")
    s"""WITH ${corpusNearSql(7)},
      |tok AS (SELECT doc_id, ${TA.tokensSql("text")} AS toks FROM corpus),
      |hs AS (SELECT doc_id, list_transform($sh, s -> $h) AS hashes FROM tok),
      |win AS (SELECT doc_id, list_distinct(list_transform(
      |   generate_series(1, greatest(len(hashes) - 3, 1)),
      |   i -> list_min(hashes[i:i+3]))) AS fps FROM hs),
      |fp AS (SELECT doc_id, unnest(fps) AS fp FROM win),
      |rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fp GROUP BY fp)
      |  WHERE df <= 10),
      |pr AS (SELECT doc_id, fp.fp FROM fp JOIN rare USING (fp))
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      |FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING count(*) >= 3
      |ORDER BY id_a, id_b""".stripMargin
  }

  // ------------------------------------------- clusters (transitive dedup)

  /** documents ∪ half-truncated copies (id+100000) ∪ quarter-truncated
    * copies (id+200000) of doc_id % 7 == 0: orig~half and half~quarter
    * clear J ≥ 0.3, orig~quarter (J ≈ 0.25) does NOT — so clusters require
    * transitivity, which is exactly what connectedComponents adds.
    */
  private def corpusChain(s: SparkSession, d: String, mod: Int,
                          spread: Boolean = false): DataFrame = {
    val docs0 = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    val docs = if (spread)
      docs0.transform(graft.core.Spread.pinByKey(s, d, Seq("documents"), Seq(col("doc_id"))))
    else docs0
    val toks = TA.tokens(col("text"))
    def cut(div: Int) =
      array_join(slice(toks, lit(1), greatest((size(toks) / div).cast("int"), lit(3))), " ")
    docs
      .unionByName(docs.filter(col("doc_id") % mod === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("lang"), cut(2).as("text")))
      .unionByName(docs.filter(col("doc_id") % mod === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("lang"), cut(4).as("text")))
  }

  private def corpusChainSql(mod: Int): String = {
    def cutSql(div: Int) =
      s"""array_to_string(toks[1:greatest(CAST(len(toks) // $div AS INTEGER), 3)], ' ')"""
    s"""corpus AS (
      |  SELECT doc_id, lang, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, lang, ${cutSql(2)}
      |  FROM (SELECT doc_id, lang, ${TA.tokensSql("text")} AS toks FROM documents)
      |  WHERE doc_id % $mod = 0
      |  UNION ALL
      |  SELECT doc_id + 200000, lang, ${cutSql(4)}
      |  FROM (SELECT doc_id, lang, ${TA.tokensSql("text")} AS toks FROM documents)
      |  WHERE doc_id % $mod = 0)""".stripMargin
  }

  /** Near-dup pairs → connected components → duplicate clusters: size and
    * canonical member per cluster. (Component id = min doc_id reachable.)
    */
  def dupClusters: Q = (s, d) => {
    val pairs = Dedup.ngramJaccardPairs(corpusChain(s, d, 7, spread = true), "doc_id", "text",
      blockCols = Seq("lang"), shingleN = 3, minJaccard = 0.3)
    Dedup.connectedComponents(pairs, "id_a", "id_b")
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"), max(col("node")).as("max_member"))
      .orderBy(col("component"))
  }

  val dupClustersSql: String =
    s"""WITH RECURSIVE ${corpusChainSql(7)},
      |tok AS (SELECT doc_id, lang, ${TA.tokensSql("text")} AS toks FROM corpus),
      |shs AS (SELECT doc_id, lang,
      |    list_distinct(${TA.shinglesSql("toks", 3)}) AS sh FROM tok),
      |sh AS (SELECT doc_id, lang, unnest(sh) AS s FROM shs),
      |sz AS (SELECT doc_id, len(sh) AS n_sh FROM shs),
      |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (SELECT id_a, id_b
      |  FROM (SELECT id_a, id_b,
      |      floor(CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter) * 10000 + 0.5) / 10000 AS jaccard
      |    FROM inter
      |    JOIN sz na ON na.doc_id = id_a
      |    JOIN sz nb ON nb.doc_id = id_b)
      |  WHERE jaccard >= 0.3),
      |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |comp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a)
      |SELECT component, count(*) AS n_members, max(node) AS max_member
      |FROM comp GROUP BY component ORDER BY component""".stripMargin

  // ---------------------------------------------- canonical-doc selection

  /** KEEP-BEST within each duplicate cluster — the step after clustering
    * that decides which copy survives into the training corpus: per
    * component, the member with the longest text (doc_id tie-break) wins.
    * One hash-agg argmax via `max(struct(len, -doc_id))` — no per-cluster
    * sort window — over the O(duplicated docs) component table.
    */
  def canonicalDocs: Q = (s, d) => {
    val corpus = corpusChain(s, d, 7, spread = true)
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      blockCols = Seq("lang"), shingleN = 3, minJaccard = 0.3)
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("node", "doc_id")
    cc.join(corpus, Seq("doc_id"))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(length(col("text")).as("len"), (-col("doc_id")).as("negid"))).as("m"))
      .select(col("component"), col("n_members"),
        (-col("m.negid")).as("keep_id"),
        col("m.len").cast("long").as("keep_len"))
      .orderBy(col("component"))
  }

  val canonicalDocsSql: String =
    s"""WITH RECURSIVE ${corpusChainSql(7)},
      |tok AS (SELECT doc_id, lang, ${TA.tokensSql("text")} AS toks FROM corpus),
      |shs AS (SELECT doc_id, lang,
      |    list_distinct(${TA.shinglesSql("toks", 3)}) AS sh FROM tok),
      |sh AS (SELECT doc_id, lang, unnest(sh) AS s FROM shs),
      |sz AS (SELECT doc_id, len(sh) AS n_sh FROM shs),
      |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (SELECT id_a, id_b
      |  FROM (SELECT id_a, id_b,
      |      floor(CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter) * 10000 + 0.5) / 10000 AS jaccard
      |    FROM inter
      |    JOIN sz na ON na.doc_id = id_a
      |    JOIN sz nb ON nb.doc_id = id_b)
      |  WHERE jaccard >= 0.3),
      |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |comp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a),
      |members AS (SELECT comp.component, c.doc_id, length(c.text) AS len
      |  FROM comp JOIN corpus c ON c.doc_id = comp.node),
      |ranked AS (SELECT component, doc_id, len,
      |    row_number() OVER (PARTITION BY component
      |      ORDER BY len DESC, doc_id ASC) AS rn,
      |    count(*) OVER (PARTITION BY component) AS n_members
      |  FROM members)
      |SELECT component, CAST(n_members AS BIGINT) AS n_members,
      |  doc_id AS keep_id, CAST(len AS BIGINT) AS keep_len
      |FROM ranked WHERE rn = 1 ORDER BY component""".stripMargin

  // ------------------------------------------------- leakage-free splits

  /** DUPLICATE-AWARE train/val/test split: near-duplicate docs must land
    * in the SAME split, or eval rows leak into training through their
    * near-copies (the classic benchmark-contamination path INSIDE one's
    * own corpus). Docs are clustered by transitive near-dup reachability
    * (the [[dupClusters]] components); the split is hashed on the CLUSTER
    * id (min reachable doc_id; singletons hash their own id), so whole
    * clusters move together by construction. Gated output: per-split doc
    * and cluster counts — which differ from a doc-id hash split exactly
    * where duplicate members would have straddled splits.
    *
    * SCALE: pairs come from the banded near-dup path, components from
    * pointer-doubling CC (O(log diameter) rounds), the component table is
    * O(duplicated docs) and joins back on doc_id — one shuffle; the split
    * itself is scan-side md5 arithmetic.
    */
  def leakageSplit: Q = (s, d) => {
    val corpus = corpusChain(s, d, 7, spread = true)
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      blockCols = Seq("lang"), shingleN = 3, minJaccard = 0.3)
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("node", "doc_id")
    val clustered = corpus.join(cc, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("component"), col("doc_id")))
    val b = conv(substring(md5(col("cluster_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 100
    clustered
      .withColumn("split",
        when(b < 90, "train").when(b < 95, "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"))
      .orderBy(col("split"))
  }

  val leakageSplitSql: String =
    s"""WITH RECURSIVE ${corpusChainSql(7)},
      |tok AS (SELECT doc_id, lang, ${TA.tokensSql("text")} AS toks FROM corpus),
      |shs AS (SELECT doc_id, lang,
      |    list_distinct(${TA.shinglesSql("toks", 3)}) AS sh FROM tok),
      |sh AS (SELECT doc_id, lang, unnest(sh) AS s FROM shs),
      |sz AS (SELECT doc_id, len(sh) AS n_sh FROM shs),
      |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (SELECT id_a, id_b
      |  FROM (SELECT id_a, id_b,
      |      floor(CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter) * 10000 + 0.5) / 10000 AS jaccard
      |    FROM inter
      |    JOIN sz na ON na.doc_id = id_a
      |    JOIN sz nb ON nb.doc_id = id_b)
      |  WHERE jaccard >= 0.3),
      |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |comp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a),
      |assign AS (SELECT c.doc_id,
      |    coalesce(comp.component, c.doc_id) AS cluster_id
      |  FROM corpus c LEFT JOIN comp ON comp.node = c.doc_id),
      |bucketed AS (SELECT cluster_id,
      |    CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS b
      |  FROM assign)
      |SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
      |  count(*) AS n_docs, count(DISTINCT cluster_id) AS n_clusters
      |FROM bucketed GROUP BY 1 ORDER BY split""".stripMargin

  // ---------------------------------------------- cross-doc paragraph dedup

  /** Cross-document PARAGRAPH dedup — boilerplate detection at sub-document
    * grain: every document splits into non-overlapping 10-token paragraphs
    * (hashed in the scan projection, same generator shape as
    * `q_doc_chunks`); a paragraph whose hash appears in ≥ 2 DISTINCT
    * documents is boilerplate (nav bars, license headers, cookie banners —
    * the within-doc twin is `q_repetition_filter`, the whole-doc twin
    * `q_dedup_exact`). Trailing fragments (< 10 tokens) are excluded:
    * their identity tracks document length, not shared content.
    *
    * SCALE: chunk + hash is map-only scan-side work; the only shuffle is
    * the hash-keyed aggregate (partial-aggregated; a hot boilerplate hash
    * is exactly the AQE-skew case). Top-200 by (n_docs desc, hash) is a
    * unique total order — deterministic at the LIMIT boundary.
    */
  def dedupParagraph: Q = (s, d) => {
    val W = 10
    corpusExact(s, d, 5)
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= W)
      .select(col("doc_id"), col("toks"), col("n"),
        posexplode(sequence(lit(1), col("n"), lit(W))).as(Seq("ci", "start")))
      .filter(col("n") - col("start") + 1 >= W)
      .select(col("doc_id"),
        md5(concat_ws(" ", expr(s"slice(toks, start, $W)"))).as("para_md5"))
      .groupBy(col("para_md5"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("para_md5"))
      .limit(200)
  }

  val dedupParagraphSql: String =
    s"""WITH ${corpusExactSql(5)},
      |tok AS (SELECT doc_id, ${TA.tokensSql("text")} AS toks FROM corpus),
      |base AS (SELECT doc_id, toks, len(toks) AS n FROM tok WHERE len(toks) >= 10),
      |ch AS (SELECT doc_id, toks, n,
      |    unnest(generate_series(1, n, 10)) AS start FROM base),
      |paras AS (SELECT doc_id,
      |    md5(array_to_string(toks[start:start+9], ' ')) AS para_md5
      |  FROM ch WHERE n - start + 1 >= 10)
      |SELECT para_md5, count(DISTINCT doc_id) AS n_docs,
      |  count(*) AS n_occurrences, min(doc_id) AS first_doc
      |FROM paras GROUP BY para_md5 HAVING count(DISTINCT doc_id) >= 2
      |ORDER BY n_docs DESC, para_md5 LIMIT 200""".stripMargin

  // ------------------------------------------------ semantic dedup (SemDeDup)

  /** Cluster-blocked SEMANTIC dedup — the SemDeDup recipe (Abbas et al.
    * 2023, arXiv:2303.09540): partition the embedding space into k
    * clusters, compare pairs ONLY within a cluster, and drop every member
    * of a near-identical group except one exemplar (keep-lowest-id here;
    * the paper keeps the member farthest from the centroid — same pair
    * set, different representative rule). The corpus is embeddings plus
    * first-component-perturbed copies of every 9th vector (the
    * [[dedupEmbedding]] fixture), so there is real semantic-dup mass and
    * the oracle can rebuild it verbatim. Output is a per-cluster census
    * (members, dropped count, dropped-id checksum) — small, and it pins
    * both the cluster assignment and the exact dropped set.
    *
    * Determinism: assignment is argmax of the EXACT integer-micro dot
    * product against the k seed centroids (associative — partition-order
    * proof), tie-broken by centroid id; the within-cluster cosine uses the
    * sequential-order [[Similarity.dot]] kernel rounded to 6 decimals,
    * mirrored exactly by [[Similarity.dotSql]].
    *
    * SCALE: this is WHY SemDeDup exists at 100 TB — all-pairs cosine over
    * N docs is O(N²·dim), but pairs within k balanced clusters cost
    * O(N²/k·dim); with k ~ N/20k (the paper's regime) the per-cluster
    * block is bounded and embarrassingly parallel (one shuffle on
    * cluster id, pair generation never leaves the partition). Centroids
    * broadcast (k rows). Production adds a cluster-size cap + re-split of
    * oversized clusters; the gate's k=8 over ~556 vectors keeps the same
    * geometry at fixture scale.
    */
  def semDedup: Q = (s, d) => {
    val k = 8
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val corpus = base.unionByName(
      base.filter(col("vec_id") % 9 === 0)
        .select((col("vec_id") + 100000).as("vec_id"),
          concat(array(element_at(col("v"), 1) + lit(0.5)),
            slice(col("v"), 2, 63)).as("v")))
    val vi = corpus.withColumn("iv",
      transform(col("v"), x => round(x * 1e6).cast("long")))
    val cents = vi.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("iv").as("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("dp").desc, col("cent_id").asc)
    val assigned = vi.crossJoin(broadcast(cents))
      .withColumn("dp",
        aggregate(zip_with(col("iv"), col("cv"), _ * _), lit(0L), _ + _))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("cent_id"), col("vec_id"), col("v"))
    val n = assigned.withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v"))))
    val pairs = n.select(col("cent_id"), col("vec_id").as("id_a"),
        col("v").as("va"), col("nrm").as("na"))
      .join(n.select(col("cent_id"), col("vec_id").as("id_b"),
        col("v").as("vb"), col("nrm").as("nb")), Seq("cent_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim",
        round(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos_sim") >= 0.8)
    val dropped = pairs.select(col("cent_id"), col("id_b")).distinct()
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n_dropped"), sum(col("id_b")).as("dropped_checksum"))
    assigned.groupBy(col("cent_id")).agg(count(lit(1)).as("n_members"))
      .join(dropped, Seq("cent_id"), "left_outer")
      .na.fill(0L, Seq("n_dropped", "dropped_checksum"))
      .orderBy(col("cent_id"))
  }

  val semDedupSql: String = {
    val dotVV = Similarity.dotSql("v", "v", 64)
    val dotAB = Similarity.dotSql("a.v", "b.v", 64)
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |corpus AS (SELECT vec_id, v FROM base
      |  UNION ALL
      |  SELECT vec_id + 100000, [v[1] + 0.5] || v[2:64] FROM base WHERE vec_id % 9 = 0),
      |vi AS (SELECT vec_id, v,
      |    list_transform(v, x -> CAST(round(x * 1000000) AS BIGINT)) AS iv
      |  FROM corpus),
      |cents AS (SELECT vec_id AS cent_id, iv AS cv FROM vi WHERE vec_id < 8),
      |dots AS (SELECT e.vec_id, c.cent_id,
      |    list_sum(list_transform(generate_series(1, len(e.iv)),
      |      i -> e.iv[i] * c.cv[i])) AS dp
      |  FROM vi e CROSS JOIN cents c),
      |best AS (SELECT vec_id, cent_id FROM (
      |    SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dp DESC, cent_id) AS rn FROM dots) WHERE rn = 1),
      |asg AS (SELECT b.cent_id, e.vec_id, e.v FROM best b JOIN corpus e USING (vec_id)),
      |nn AS (SELECT cent_id, vec_id, v, sqrt($dotVV) AS nrm FROM asg),
      |p AS (SELECT a.cent_id, b.vec_id AS id_b,
      |    round($dotAB / (a.nrm * b.nrm), 6) AS cos_sim
      |  FROM nn a JOIN nn b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id),
      |drp AS (SELECT cent_id, id_b FROM p WHERE cos_sim >= 0.8 GROUP BY 1, 2),
      |ds AS (SELECT cent_id, count(*) AS n_dropped,
      |    CAST(sum(id_b) AS BIGINT) AS dropped_checksum FROM drp GROUP BY 1),
      |m AS (SELECT cent_id, count(*) AS n_members FROM asg GROUP BY 1)
      |SELECT cent_id, n_members,
      |  CAST(coalesce(n_dropped, 0) AS BIGINT) AS n_dropped,
      |  CAST(coalesce(dropped_checksum, 0) AS BIGINT) AS dropped_checksum
      |FROM m LEFT JOIN ds USING (cent_id) ORDER BY cent_id""".stripMargin
  }

  /** SORTED-NEIGHBORHOOD dedup (Hernández & Stolfo, SIGMOD'95) — the
    * sort-based blocking classic, complementing the hash-based family
    * (minhash bands, simhash segments, LSH buckets): sort the corpus by a
    * blocking key, then compare only records within a fixed rank window.
    * Candidates here are (block = first 6 chars, rank window ≤ 3 in full
    * lexicographic text order); the verify is an edit-distance screen on
    * the 60-char prefix (truncated near-dup copies share their prefix with
    * the original, so true pairs sort adjacent and pass at distance 0).
    *
    * SCALE: the rank window join is an EQUI-join — each record explodes
    * into its 3 successor ranks and joins on (block, rank), so the plan is
    * one per-block sort (distributed by block, never a global single-
    * partition window) + one keyed shuffle join. Window size bounds pairs
    * at 3·N regardless of block size — the property that makes SNM the
    * cheap first pass before LSH in production entity-resolution stacks.
    */
  def sortedNeighborhood: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val keyed = corpusNear(s, d, 6)
      .select(col("doc_id"), col("text"),
        substring(col("text"), 1, 6).as("blk"),
        substring(col("text"), 1, 60).as("probe"))
    val w = Window.partitionBy(col("blk"))
      .orderBy(col("text").asc, col("doc_id").asc)
    val ranked = keyed.withColumn("rn", row_number().over(w))
      .select(col("blk"), col("rn"), col("doc_id"), col("probe"))
    val succ = ranked
      .withColumn("gap", explode(array(lit(1), lit(2), lit(3))))
      .select(col("blk"), (col("rn") + col("gap")).as("rn_b"),
        col("gap"), col("doc_id").as("id_a"), col("probe").as("probe_a"))
    val b = ranked.select(col("blk"), col("rn").as("rn_b"),
      col("doc_id").as("id_b"), col("probe").as("probe_b"))
    succ.join(b, Seq("blk", "rn_b"))
      // bounded banded DP (returns -1 past the threshold) — same kept
      // pairs/distances as the full form, cheaper on near-miss neighbors
      .withColumn("dist", levenshtein(col("probe_a"), col("probe_b"), 5))
      .filter(col("dist") >= 0 && col("dist") <= 5)
      .select(col("id_a"), col("id_b"), col("gap").cast("int").as("gap"),
        col("dist").cast("int").as("dist"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val sortedNeighborhoodSql: String =
    s"""WITH ${corpusNearSql(6)},
      |keyed AS (
      |  SELECT doc_id, text, substr(text, 1, 6) AS blk,
      |    substr(text, 1, 60) AS probe
      |  FROM corpus),
      |ranked AS (
      |  SELECT blk, doc_id, probe,
      |    row_number() OVER (PARTITION BY blk ORDER BY text, doc_id) AS rn
      |  FROM keyed)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(b.rn - a.rn AS INTEGER) AS gap,
      |  CAST(levenshtein(a.probe, b.probe) AS INTEGER) AS dist
      |FROM ranked a JOIN ranked b
      |  ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND 3
      |WHERE levenshtein(a.probe, b.probe) <= 5
      |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------- exact-substring coverage (Lee et al.)

  /** Per-document duplicated-span coverage — the REMOVAL-POLICY side of
    * exact-substring dedup (Lee et al. 2022): for every document, what
    * fraction of its tokens sits inside a verbatim span that also occurs
    * elsewhere in the corpus? [[commonSubstrings]] answers "which PAIRS
    * share text"; this answers "how much of THIS doc is boilerplate /
    * copy", which is what the drop/trim decision actually consumes.
    *
    * Fixed-length approximation of the suffix-array formulation, exactly
    * as deployed in practice: every L-token shingle (L=8, the fused
    * `graft_shingles` kernel — one call per doc) is an anchor; anchors
    * whose corpus occurrence count ≥ 2 (including same-doc repeats, per
    * the paper) mark the span [i, i+L) as duplicated, and per-doc coverage
    * is the measure of the UNION of flagged spans — a running-max interval
    * sweep in ONE window partitioned by doc_id (bounded by document
    * length, never corpus-global).
    *
    * Scale: explode is linear in total tokens; the occurrence count is a
    * hash aggregate with map-side combine; the flag returns via one
    * equi-join on the shingle value (skew-safe: boilerplate shingles with
    * huge df cost df rows each here — NOT df², unlike the pair join, which
    * is why the coverage form needs no stop-shingle screen). Verdicts
    * compare integer cross-products; `permille` is an integer `div`.
    */
  def substringCoverage: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val L = 8
    // anchors travel as 60-bit shingle HASHES (the fused kernel, one call
    // per doc), not strings: the occurrence shuffle and the flag join move
    // 8 bytes per anchor instead of a ~50-char shingle — ~6x less shuffle
    // at corpus scale. Both engines hash identically (md5-prefix family,
    // kernel ≡ md5LongSql per the green q_doc_fingerprint gate), so a
    // collision — ~(anchors²)/2⁶¹, negligible — would be the SAME merge on
    // both sides, never an oracle mismatch.
    val pos = Tables.documents(s, d)
      // spread the single-file scan: the fused shingle-hash kernel below is
      // the query's dominant cost and otherwise runs in ONE task (measured
      // r11: 4.0 s -> 1.3 s at sf0.1)
      .transform(graft.core.Spread.byKey(s, d, Seq("documents"), Seq(col("doc_id"))))
      .select(col("doc_id"), size(TA.tokens(col("text"))).as("n"),
        posexplode(call_function("graft_shingle_hashes", col("text"), lit(L))))
      .filter(col("n") > 0) // empty docs contribute one ""-shingle; drop them
      .select(col("doc_id"), col("n"), (col("pos") + 1).as("i"), col("col").as("sh"))
    val occ = pos.groupBy(col("sh")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
    val flagged = pos.join(occ, "sh")
      .withColumn("end", least(col("i") + L, col("n") + 1))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, -1)
    flagged
      .withColumn("newly", greatest(lit(0),
        col("end") - greatest(coalesce(max(col("end")).over(w), lit(0L)), col("i"))))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).cast("long").as("n_tokens"),
        sum(col("newly")).cast("long").as("covered_tokens"))
      .withColumn("permille", expr("(covered_tokens * 1000) div n_tokens"))
      .withColumn("verdict",
        when(col("covered_tokens") * 1000 >= col("n_tokens") * 800, "drop:mostly_dup")
          .when(col("covered_tokens") * 1000 >= col("n_tokens") * 200, "trim:partial_dup")
          .otherwise("keep:minor_dup"))
      .orderBy(col("doc_id"))
  }

  val substringCoverageSql: String = {
    val toks = TA.tokensSql("text")
    val h = Hashing.md5LongSql("array_to_string(toks[i:i+7], ' ')")
    s"""WITH tok AS (SELECT doc_id, $toks AS toks FROM documents),
      |pos AS (SELECT doc_id, len(toks) AS n, i, $h AS sh
      |  FROM tok, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 7, 1))) AS i)
      |  WHERE len(toks) > 0),
      |occ AS (SELECT sh, count(*) AS occ FROM pos GROUP BY 1 HAVING count(*) >= 2),
      |flagged AS (SELECT p.doc_id, p.n, p.i, least(p.i + 8, p.n + 1) AS e
      |  FROM pos p JOIN occ USING (sh)),
      |cov AS (SELECT doc_id, n, i,
      |    greatest(0, e - greatest(coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), i)) AS newly
      |  FROM flagged),
      |perdoc AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
      |    CAST(sum(newly) AS BIGINT) AS covered_tokens
      |  FROM cov GROUP BY 1)
      |SELECT doc_id, n_tokens, covered_tokens,
      |  CAST((covered_tokens * 1000) // n_tokens AS BIGINT) AS permille,
      |  CASE WHEN covered_tokens * 1000 >= n_tokens * 800 THEN 'drop:mostly_dup'
      |       WHEN covered_tokens * 1000 >= n_tokens * 200 THEN 'trim:partial_dup'
      |       ELSE 'keep:minor_dup' END AS verdict
      |FROM perdoc ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q_dedup_substring" -> substringCoverage,
    "q_sorted_neighborhood" -> sortedNeighborhood,
    "q_dedup_paragraph" -> dedupParagraph,
    "q_dup_clusters" -> dupClusters,
    "q_dedup_incremental" -> dedupIncremental,
    "q_leakage_split" -> leakageSplit,
    "q_canonical_docs" -> canonicalDocs,
    "q_common_substrings" -> commonSubstrings,
    "q_dedup_containment" -> dedupContainment,
    "q_dedup_exact" -> dedupExact,
    "q_dedup_minhash" -> dedupMinhash,
    "q_dedup_simhash" -> dedupSimhash,
    "q_dedup_simhash_wide" -> dedupSimhashWide,
    "q_dedup_simhash_banded" -> dedupSimhashBanded,
    "q_dedup_ngram_jaccard" -> dedupNgramJaccard,
    "q_dedup_embedding" -> dedupEmbedding,
    "q_semdedup" -> semDedup,
  )

  val oracles: Map[String, String] = Map(
    "q_dedup_substring" -> substringCoverageSql,
    "q_sorted_neighborhood" -> sortedNeighborhoodSql,
    "q_dedup_paragraph" -> dedupParagraphSql,
    "q_dup_clusters" -> dupClustersSql,
    "q_dedup_incremental" -> dedupIncrementalSql,
    "q_leakage_split" -> leakageSplitSql,
    "q_canonical_docs" -> canonicalDocsSql,
    "q_common_substrings" -> commonSubstringsSql,
    "q_dedup_containment" -> dedupContainmentSql,
    "q_dedup_exact" -> dedupExactSql,
    "q_dedup_minhash" -> dedupMinhashSql,
    "q_dedup_simhash" -> dedupSimhashSql,
    "q_dedup_simhash_wide" -> dedupSimhashWideSql,
    "q_dedup_simhash_banded" -> dedupSimhashBandedSql,
    "q_dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "q_dedup_embedding" -> dedupEmbeddingSql,
    "q_semdedup" -> semDedupSql,
  )
}
