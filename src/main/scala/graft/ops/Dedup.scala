package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{TextAnalysis => TA}

/** Corpus deduplication for training-data pipelines: exact (content-hash),
  * MinHash + LSH banding, SimHash, and exact n-gram Jaccard.
  *
  * Scale notes (the whole point of each design):
  *  - Exact dedup is one hash-shuffle (`groupBy(content_hash)`) — the
  *    canonical 100 TB dedup; AQE handles skew from viral duplicates.
  *  - MinHash signatures and SimHash values are computed INSIDE a single
  *    projection via higher-order array functions — no explode, no shuffle,
  *    no UDF; per-doc cost is O(shingles × perms). The only shuffle is the
  *    LSH band self-join, which touches `bands × docs` short rows, not the
  *    documents themselves.
  *  - n-gram Jaccard is the exact (quadratic-within-block) method; use it on
  *    LSH survivors or small blocks, never the raw corpus.
  *  - `hasher` defaults to the oracle-portable md5-based hash
  *    ([[Hashing.md5Long]]); pass [[Hashing.fastLongSeeded]] at scale for
  *    codegen'd xxhash64.
  */
object Dedup {

  /** Exact duplicate groups by content hash: one row per distinct content,
    * keeping the minimum id as the canonical survivor.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash permutation constants: odd multipliers / offsets under 2^30 so
    * `a*h + b` stays below 2^61 (no 64-bit overflow in Spark OR the DuckDB
    * oracle, which errors on overflow). Shared with the oracle SQL.
    */
  def permA(i: Int): Long = ((1103515245L * (i + 1)) & 0x3FFFFFFFL) | 1L
  def permB(i: Int): Long = (2654435761L * (i + 1)) & 0x3FFFFFFFL

  /** The candidate-pruning threshold consistent with the ROUNDED output
    * filter: every pair list reports its similarity rounded half-up to
    * 4 dp and filters `rounded ≥ t`, which admits true similarity down to
    * t − 5e-5. Size/prefix prune bounds must therefore use this effective
    * threshold, not t itself — pruning at t drops knife-edge pairs whose
    * similarity rounds UP across the threshold (bit us at 30× scale: a
    * J = 0.29996 pair is a reported 0.3 pair). We subtract a full 1e-4
    * (double the real-arithmetic boundary of 5e-5): the prunes compare
    * `greatest(n_a,n_b)*tEff <= least(n_a,n_b)` in doubles, so a pair
    * sitting exactly ON the boundary could still be dropped by one-ulp FP
    * error. Loosening the size prune / lengthening the pigeonhole prefix
    * is strictly sound — the rounded `≥ t` output filter stays the exact
    * gate — so the extra slack buys FP safety at negligible candidate
    * cost.
    */
  private[graft] def roundedThreshold(t: Double): Double = t - 1.0 / 10000
  val PermMod: Long = 2147483647L // 2^31 - 1
  val HashMask: Long = 0x3FFFFFFFL // keep 30 bits of the base hash

  /** MinHash signature array (`sigs`): hash each shingle ONCE (the
    * expensive md5), mask to 30 bits, then derive the i-th permutation
    * arithmetically: `(a_i * h + b_i) mod (2^31-1)`. The hash array is
    * materialized as its own projection column so the `numPerm` signature
    * expressions reference it instead of re-hashing (Catalyst keeps
    * non-cheap multi-referenced projections un-collapsed). Per-row only —
    * no shuffle.
    */
  def withMinhashSignature(df: DataFrame, textCol: String,
                           numPerm: Int, shingleN: Int,
                           hasher: Column => Column = Hashing.md5Long)
  : DataFrame = {
    // HOF formulation — kept as the executable spec for the native
    // expression (DedupSpec asserts bit-equality); hot paths use
    // withMinhashSignatureNative.
    val sh = TA.shingles(TA.tokens(col(textCol)), shingleN)
    val sigs = (0 until numPerm).map { i =>
      array_min(transform(col("_hs"),
        h => (h * lit(permA(i)) + lit(permB(i))) % lit(PermMod)))
    }
    df.withColumn("_hs", transform(sh, s => hasher(s).bitwiseAND(lit(HashMask))))
      .withColumn("sigs", array(sigs: _*))
      .drop("_hs")
  }

  /** Native-expression minhash signature ([[graft.functions.MinhashSigs]]):
    * same md5 arithmetic as [[withMinhashSignature]] fused into one
    * codegen'd call per document instead of `shingles × (4 + numPerm)`
    * interpreted lambda evaluations — ~6x the signature throughput at
    * sf0.1, identical bits (DedupSpec).
    */
  def withMinhashSignatureNative(df: DataFrame, textCol: String,
                                 numPerm: Int, shingleN: Int): DataFrame =
    df.withColumn("sigs",
      call_function("graft_minhash", col(textCol), lit(shingleN), lit(numPerm)))

  /** LSH banding: split each signature into `numPerm / bandRows` bands,
    * bucket on (band index, band key), self-join buckets for candidate
    * pairs. Returns one row per candidate pair with both signatures.
    */
  def lshCandidatePairs(sigDf: DataFrame, idCol: String,
                        numPerm: Int, bandRows: Int): DataFrame = {
    require(bandRows >= 1 && bandRows <= numPerm && numPerm % bandRows == 0,
      s"bandRows must divide numPerm (got numPerm=$numPerm, bandRows=$bandRows)" +
        " — a remainder would silently drop signature slots from banding")
    val nBands = numPerm / bandRows
    val bandStructs = (0 until nBands).map { b =>
      val key = concat_ws(",",
        (0 until bandRows).map(r => element_at(col("sigs"), b * bandRows + r + 1)): _*)
      struct(lit(b).as("band"), key.as("bkey"))
    }
    // Materialize the (tiny) signature rows before the self-join: both join
    // sides then read the stored partitions instead of re-running the
    // signature pipeline, and no optimizer rule can push inferred
    // null-checks below this point and duplicate the hash expressions.
    // (At warehouse scale this is "write the signature table, then join".)
    val sigsOnly = sigDf.select(col(idCol), col("sigs")).transform(graft.core.Checkpoint.apply)
    val exploded = sigsOnly
      .select(col(idCol), col("sigs"), explode(array(bandStructs: _*)).as("bb"))
      .select(col(idCol), col("sigs"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val a = exploded.alias("a")
    val b = exploded.alias("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.sigs").as("sigs_a"), col("b.sigs").as("sigs_b"))
      .distinct()
  }

  /** The LSH BAND INDEX of a corpus: one row per (doc, band) with the
    * band's bucket key and the doc's full signature — the PERSISTED form
    * of the banding in [[lshCandidatePairs]]. At 100 TB this table is
    * written once per corpus snapshot (or maintained incrementally) so
    * that [[incrementalMinhashNearDups]] can dedup each arriving batch
    * against it without ever re-pairing the corpus with itself.
    */
  def minhashBandIndex(df: DataFrame, idCol: String, textCol: String,
                       numPerm: Int = 8, shingleN: Int = 3,
                       bandRows: Int = 2): DataFrame = {
    require(bandRows >= 1 && bandRows <= numPerm && numPerm % bandRows == 0,
      s"bandRows must divide numPerm (got numPerm=$numPerm, bandRows=$bandRows)")
    val nBands = numPerm / bandRows
    val bandStructs = (0 until nBands).map { b =>
      val key = concat_ws(",",
        (0 until bandRows).map(r => element_at(col("sigs"), b * bandRows + r + 1)): _*)
      struct(lit(b).as("band"), key.as("bkey"))
    }
    withMinhashSignatureNative(df, textCol, numPerm, shingleN)
      .select(col(idCol), col("sigs"), explode(array(bandStructs: _*)).as("bb"))
      .select(col(idCol), col("sigs"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** INCREMENTAL near-dup detection — the only dedup mode that works
    * operationally at 100 TB: a new batch arrives, and the question is
    * "which batch docs duplicate the corpus (or each other)?", never
    * "re-pair the whole corpus". Candidates are (batch ⋈ corpus-index)
    * band-bucket collisions plus the intra-batch self-join; the corpus
    * index is probed, NEVER self-joined, so per-batch cost scales with
    * the batch, not the corpus. Verification is the same estimated-Jaccard
    * floor as [[minhashNearDups]]; ids must be disjoint across the two
    * inputs. Pairs are emitted (min id, max id)-canonical, so the result
    * is EXACTLY the full-corpus pair set restricted to pairs touching the
    * batch (the oracle's formulation of q_dedup_incremental).
    */
  def incrementalMinhashNearDups(corpusIndex: DataFrame, batch: DataFrame,
                                 idCol: String, textCol: String,
                                 numPerm: Int = 8, shingleN: Int = 3,
                                 bandRows: Int = 2,
                                 minJaccard: Double = 0.5): DataFrame = {
    val batchIdx = minhashBandIndex(batch, idCol, textCol, numPerm, shingleN, bandRows)
      .transform(graft.core.Checkpoint.apply) // probed twice: corpus + self
    val a = batchIdx.alias("a")
    val c = corpusIndex.alias("c")
    val cross = a.join(c,
        col("a.band") === col("c.band") && col("a.bkey") === col("c.bkey") &&
          col(s"a.$idCol") =!= col(s"c.$idCol"))
      .select(
        least(col(s"a.$idCol"), col(s"c.$idCol")).as("id_a"),
        greatest(col(s"a.$idCol"), col(s"c.$idCol")).as("id_b"),
        when(col(s"a.$idCol") < col(s"c.$idCol"), col("a.sigs"))
          .otherwise(col("c.sigs")).as("sigs_a"),
        when(col(s"a.$idCol") < col(s"c.$idCol"), col("c.sigs"))
          .otherwise(col("a.sigs")).as("sigs_b"))
    val b = batchIdx.alias("b")
    val intra = a.join(b,
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.sigs").as("sigs_a"), col("b.sigs").as("sigs_b"))
    cross.unionByName(intra).distinct()
      .withColumn("est_jaccard",
        floor(estimatedJaccard(col("sigs_a"), col("sigs_b"), numPerm) * 10000 + 0.5) / 10000)
      .filter(col("est_jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Estimated Jaccard = fraction of matching signature slots. */
  def estimatedJaccard(sigsA: Column, sigsB: Column, numPerm: Int): Column =
    aggregate(
      zip_with(sigsA, sigsB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / numPerm

  /** End-to-end MinHash near-dup pairs above an estimated-Jaccard floor. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      numPerm: Int = 8, shingleN: Int = 3, bandRows: Int = 2,
                      minJaccard: Double = 0.5,
                      hasher: Option[Column => Column] = None)
  : DataFrame = {
    // default: the native fused signature; pass a hasher to fall back to
    // the HOF pipeline (e.g. Hashing.fastLongSeeded experiments)
    val sigs = hasher match {
      case Some(h) => withMinhashSignature(df, textCol, numPerm, shingleN, h)
      case None => withMinhashSignatureNative(df, textCol, numPerm, shingleN)
    }
    lshCandidatePairs(sigs, idCol, numPerm, bandRows)
      .withColumn("est_jaccard",
        floor(estimatedJaccard(col("sigs_a"), col("sigs_b"), numPerm) * 10000 + 0.5) / 10000)
      .filter(col("est_jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** SimHash value over whitespace tokens, `bits` wide (≤ 63): bit b is set
    * iff the ±1 vote of all token-hash bits b is positive. Pure projection
    * (no shuffle); near-dup docs differ in few bits (small Hamming distance).
    *
    * Single-pass: ONE aggregate carries an int[bits] vote vector (each
    * token hashes once, then votes on every bit via a power-of-two AND
    * test), and a final indexed map assembles the bits — versus the naive
    * bits-many aggregates that would re-hash every token per bit.
    */
  def simhashExpr(textCol: Column, bits: Int = 32,
                  hasher: Column => Column = Hashing.md5Long): Column = {
    val powers = array((0 until bits).map(b => lit(1L << b)): _*)
    val votes = aggregate(
      transform(TA.tokens(textCol), t => hasher(t)),
      array_repeat(lit(0), bits),
      (acc, h) => zip_with(acc, powers,
        (a, p) => a + when(h.bitwiseAND(p) =!= 0, 1).otherwise(-1)))
    aggregate(
      zip_with(votes, powers, (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** SimHash near-dup pairs within blocks (e.g. language) at Hamming
    * distance ≤ `maxHamming`. Blocking bounds the quadratic pair join; at
    * scale replace blocks with simhash-prefix buckets (same join shape).
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      blockCols: Seq[String], bits: Int = 32, maxHamming: Int = 8,
                      hasher: Option[Column => Column] = None): DataFrame = {
    // Native fused simhash by default; see minhashNearDups on the hasher
    // escape hatch. Materialized before the self-join (see
    // lshCandidatePairs): otherwise the hamming join condition makes
    // Catalyst infer isnotnull(simhash) and push the whole vote pipeline
    // into a per-side Filter — 4x the work.
    val simCol = hasher match {
      case Some(h) => simhashExpr(col(textCol), bits, h)
      case None => call_function("graft_simhash", col(textCol), lit(bits))
    }
    val withSim = df.withColumn("simhash", simCol)
      .select((idCol +: "simhash" +: blockCols).map(col): _*)
      .transform(graft.core.Checkpoint.apply)
    val a = withSim.alias("a")
    val b = withSim.alias("b")
    val blockCond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col(s"a.$idCol") < col(s"b.$idCol"))(_ && _)
    a.join(b, blockCond)
      .withColumn("hamming",
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))))
      .filter(col("hamming") <= maxHamming)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"), col("hamming"))
  }

  /** TILED exact all-pairs simhash — [[simhashNearDups]]'s output,
    * computed WITHOUT materializing the block-quadratic join: each row
    * replicates to `tiles` tile-pair tasks (its tile crossed with every
    * other), and each of the C(C+1)/2 tasks enumerates its pair subspace
    * in a tight primitive loop (`Long.bitCount` over packed long arrays),
    * emitting ONLY matching pairs. The comparison count is the same
    * O(N²/2) per block — wide radii on narrow hashes admit no selective
    * pruning (see [[dedupSimhashWide]]'s contract) — but the SHUFFLE is
    * N·C rows of (id, hash) instead of N² materialized join rows, and the
    * quadratic work spreads evenly across tasks regardless of block skew
    * (a single dominant block becomes C(C+1)/2 tasks, not one). A pair
    * lands in exactly one task — (min, max) of its endpoints' tiles — so
    * the output needs no dedup and is row-identical to the join form
    * (spec-proven in DedupSpec).
    *
    * Null block values never pair, matching the join form's
    * null-rejecting equality semantics.
    */
  def simhashNearDupsTiled(df: DataFrame, idCol: String, textCol: String,
                           blockCols: Seq[String], bits: Int = 32,
                           maxHamming: Int = 8, tiles: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val C = tiles
    require(C >= 1, s"tiles must be >= 1, got $C")
    val tagged = df
      .withColumn("simhash", call_function("graft_simhash", col(textCol), lit(bits)))
      .filter(blockCols.map(col(_).isNotNull).foldLeft(lit(true))(_ && _))
      .select(
        concat_ws("\u0001", blockCols.map(c => col(c).cast("string")): _*).as("bk"),
        pmod(col(idCol).cast("long"), lit(C)).cast("int").as("t"),
        col(idCol).cast("long").as("id"), col("simhash").as("sh"))
      .as[(String, Int, Long, Long)]
    val rep = tagged.flatMap { case (bk, t, id, sh) =>
      (0 until C).iterator.map(o =>
        (bk, math.min(t, o), math.max(t, o), t, id, sh))
    }
    val maxH = maxHamming
    rep.groupByKey(r => (r._1, r._2, r._3))
      .flatMapGroups { (key: (String, Int, Int),
                        it: Iterator[(String, Int, Int, Int, Long, Long)]) =>
        val (_, t1, t2) = key
        val aI = new scala.collection.mutable.ArrayBuffer[Long]()
        val aS = new scala.collection.mutable.ArrayBuffer[Long]()
        val bI = new scala.collection.mutable.ArrayBuffer[Long]()
        val bS = new scala.collection.mutable.ArrayBuffer[Long]()
        val same = t1 == t2
        it.foreach { case (_, _, _, t, id, sh) =>
          if (same || t == t1) { aI += id; aS += sh }
          else { bI += id; bS += sh }
        }
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
        if (same) {
          var i = 0
          while (i < aI.length) {
            var j = i + 1
            while (j < aI.length) {
              val h = java.lang.Long.bitCount(aS(i) ^ aS(j))
              if (h <= maxH)
                out += ((math.min(aI(i), aI(j)), math.max(aI(i), aI(j)), h))
              j += 1
            }
            i += 1
          }
        } else {
          var i = 0
          while (i < aI.length) {
            var j = 0
            while (j < bI.length) {
              val h = java.lang.Long.bitCount(aS(i) ^ bS(j))
              if (h <= maxH)
                out += ((math.min(aI(i), bI(j)), math.max(aI(i), bI(j)), h))
              j += 1
            }
            i += 1
          }
        }
        out.iterator
      }.toDF("id_a", "id_b", "hamming")
  }

  /** BANDED simhash near-dup pairs — the multi-index form (Manku et al.,
    * WWW'07) that replaces [[simhashNearDups]]'s block-quadratic self-join
    * at scale. The `bits`-wide hash splits into `maxHamming + 1` disjoint
    * segments; by pigeonhole, two hashes within Hamming ≤ maxHamming agree
    * EXACTLY on at least one segment, so the equi-join on
    * (block, segment index, segment bits) finds every true pair — recall
    * is exactly 1, not probabilistic — and the cheap `bit_count` verify
    * removes collisions. Candidate volume per band is
    * ~(block/2^segBits)·block instead of block²: with 48/3 (the web-dedup
    * setting) each 12-bit segment shards a block 4096 ways.
    *
    * Wider-Hamming settings don't band well (32/8 → nine 3-bit segments
    * ≈ no sharding — the pigeonhole needs segments wide enough to be
    * selective), which is why the at-scale contract narrows the radius
    * and widens the hash rather than banding the parity form's params.
    */
  def simhashNearDupsBanded(df: DataFrame, idCol: String, textCol: String,
                            blockCols: Seq[String], bits: Int = 48,
                            maxHamming: Int = 3): DataFrame = {
    require(bits >= 1 && bits <= 62, s"bits must be in [1, 62], got $bits")
    val bands = maxHamming + 1
    val segBits = bits / bands
    require(segBits >= 8,
      s"segments of ${segBits} bits can't shard a block (bits=$bits, " +
        s"maxHamming=$maxHamming): widen the hash or narrow the radius")
    val withSim = df
      .withColumn("simhash", call_function("graft_simhash", col(textCol), lit(bits)))
      .select((idCol +: "simhash" +: blockCols).map(col): _*)
      .transform(graft.core.Checkpoint.apply)
    val segs = (0 until bands).map { i =>
      // last segment absorbs the remainder bits so segments cover the hash
      val width = if (i == bands - 1) bits - segBits * (bands - 1) else segBits
      struct(lit(i).as("seg"),
        shiftright(col("simhash"), i * segBits)
          .bitwiseAND(lit((1L << width) - 1)).as("segv"))
    }
    val exploded = withSim
      .select((col(idCol) +: col("simhash") +: blockCols.map(col) :+
        explode(array(segs: _*)).as("ss")): _*)
      .select((col(idCol) +: col("simhash") +: blockCols.map(col) :+
        col("ss.seg").as("seg") :+ col("ss.segv").as("segv")): _*)
    val a = exploded.alias("a")
    val b = exploded.alias("b")
    val cond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col("a.seg") === col("b.seg") && col("a.segv") === col("b.segv") &&
        col(s"a.$idCol") < col(s"b.$idCol"))(_ && _)
    a.join(b, cond)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
      .distinct() // multi-segment agreement dedups on (id, id) longs
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Exact n-gram (shingle) Jaccard pairs within blocks: explode distinct
    * shingles, shuffle-join on shingle to count intersections, divide by the
    * inclusion–exclusion union. The standard exact verifier for LSH
    * candidates.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[String], shingleN: Int = 3,
                        minJaccard: Double = 0.4): DataFrame = {
    // Shingle sets materialize once (native fused tokenize+shingle — same
    // strings as TA.shingles(TA.tokens(..)), see TextHashSpec); exploded
    // join input, the size lookup, and both self-join sides all read the
    // stored partitions.
    val base = df.select(
      (col(idCol) +: blockCols.map(col)) :+
        array_distinct(
          call_function("graft_shingles", col(textCol), lit(shingleN))).as("sh"): _*)
      .withColumn("n_sh", size(col("sh")))
      .transform(graft.core.Checkpoint.apply)
    val exploded = base.select(
      (col(idCol) +: blockCols.map(col)) :+ col("n_sh") :+ explode(col("sh")).as("s"): _*)
    val sizes = base.select(col(idCol), col("n_sh"))
    val a = exploded.alias("a")
    val b = exploded.alias("b")
    // length filter inside the join condition: J ≥ t ⟹ t·max ≤ min, so
    // size-mismatched pairs are pruned per shared-shingle row, before the
    // pair-count shuffle ever sees them (their exact count would be
    // discarded by the threshold anyway — dropping them is exact).
    // The bound uses the ROUNDING-ADJUSTED threshold: the output filter
    // below accepts floor(J·1e4 + 0.5)/1e4 ≥ t, which admits true J down
    // to t − 5e-5 — pruning at t exactly could drop a knife-edge pair
    // whose J rounds UP across the threshold.
    val tEff = roundedThreshold(minJaccard)
    val blockCond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col("a.s") === col("b.s") && col(s"a.$idCol") < col(s"b.$idCol") &&
        greatest(col("a.n_sh"), col("b.n_sh")) * lit(tEff) <=
          least(col("a.n_sh"), col("b.n_sh")))(_ && _)
    val inter = a.join(b, blockCond)
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed(idCol, "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed(idCol, "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("jaccard",
        floor(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")) * 10000 + 0.5) / 10000)
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact n-gram CONTAINMENT pairs (Broder): |A∩B| / min(|A|,|B|) —
    * the asymmetric overlap that catches EMBEDDED duplication (one
    * document wholly inside another), where symmetric Jaccard stays low
    * because the union is dominated by the larger document. The standard
    * companion threshold to Jaccard in dedup pipelines; same join
    * asymptotics as [[ngramJaccardPairs]] (one shingle equi-join + two
    * size lookups), different denominator.
    */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            blockCols: Seq[String], shingleN: Int = 3,
                            minContainment: Double = 0.8): DataFrame = {
    val base = df.select(
      (col(idCol) +: blockCols.map(col)) :+
        array_distinct(
          call_function("graft_shingles", col(textCol), lit(shingleN))).as("sh"): _*)
      .transform(graft.core.Checkpoint.apply)
    val exploded = base.select(
      (col(idCol) +: blockCols.map(col)) :+ explode(col("sh")).as("s"): _*)
    val sizes = base.select(col(idCol), size(col("sh")).as("n_sh"))
    val a = exploded.alias("a")
    val b = exploded.alias("b")
    val blockCond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col("a.s") === col("b.s") && col(s"a.$idCol") < col(s"b.$idCol"))(_ && _)
    val inter = a.join(b, blockCond)
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed(idCol, "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed(idCol, "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("containment",
        floor(col("n_inter").cast("double") / least(col("n_a"), col("n_b"))
          * 10000 + 0.5) / 10000)
      .filter(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** Prefix-filtered [[ngramContainmentPairs]] — the at-scale formulation
    * (DedupSpec proves pair-identical results).
    *
    * Containment is ASYMMETRIC (|∩| / min(|A|,|B|)), so the symmetric
    * prefix-vs-prefix join of the Jaccard path doesn't apply; instead the
    * PROBING-PREFIX scheme: C ≥ t ⟹ |∩| ≥ ⌈t·|A|⌉ for the smaller set A,
    * so A's `|A| − ⌈t·|A|⌉ + 1` rarest shingles must hit SOME element of
    * the intersection (pigeonhole) — and every intersection element is in
    * B's FULL set. The candidate join therefore probes small-side prefixes
    * against big-side full sets (`n_p ≤ n_f`; equal sizes fire both
    * directions and the normalized distinct dedups them). Exactly-one-side
    * prefixing keeps recall at 1 with no assumption about which side is
    * contained.
    *
    * Candidate volume per shingle is prefix-df × full-df instead of the
    * direct join's full-df² — the frequent shingles that blow up the
    * direct join never enter on the probing side.
    */
  def ngramContainmentPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                                  blockCols: Seq[String], shingleN: Int = 3,
                                  minContainment: Double = 0.8): DataFrame = {
    val base = df.select(
      (col(idCol) +: blockCols.map(col)) :+
        array_distinct(
          call_function("graft_shingles", col(textCol), lit(shingleN))).as("sh"): _*)
      .withColumn("n_sh", size(col("sh")))
      .transform(graft.core.Checkpoint.apply)
    val exploded = base.select(
      (col(idCol) +: blockCols.map(col)) :+ col("n_sh") :+ explode(col("sh")).as("s"): _*)
    val freq = exploded.groupBy((blockCols :+ "s").map(col): _*)
      .agg(count(lit(1)).as("freq"))
    val byRarity = Window.partitionBy(col(idCol))
      .orderBy(col("freq").asc, col("s").asc)
    // pigeonhole prefix sized by the ROUNDING-ADJUSTED threshold (see
    // [[roundedThreshold]]): a reported pair has true C ≥ t − 5e-5
    val prefixes = exploded.join(freq, blockCols :+ "s")
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= col("n_sh") -
        ceil(col("n_sh") * lit(roundedThreshold(minContainment))) + 1)
      .select((col(idCol) +: blockCols.map(col)) :+ col("n_sh") :+ col("s"): _*)
    val p = prefixes.alias("p")
    val f = exploded.alias("f")
    val blockCond = blockCols.map(c => col(s"p.$c") === col(s"f.$c"))
      .foldLeft(col("p.s") === col("f.s") && col(s"p.$idCol") =!= col(s"f.$idCol") &&
        col("p.n_sh") <= col("f.n_sh"))(_ && _)
    val cands = p.join(f, blockCond)
      .select(least(col(s"p.$idCol"), col(s"f.$idCol")).as("id_a"),
        greatest(col(s"p.$idCol"), col(s"f.$idCol")).as("id_b"))
      .distinct()
    pairIntersections(cands, base.select(col(idCol).as("id"), col("sh")))
      .join(base.select(col(idCol).as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(base.select(col(idCol).as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("containment",
        floor(col("n_inter").cast("double") / least(col("n_a"), col("n_b"))
          * 10000 + 0.5) / 10000)
      .filter(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** Exact |A∩B| for every candidate pair with shuffle LINEAR in
    * corpus + pairs — the verify stage both at-scale near-dup forms
    * ([[ngramContainmentPairsPrefix]], [[ngramJaccardPairsLsh]]) route
    * through.
    *
    * The naive verify joins each side's full shingle array onto every
    * candidate row: duplicate-heavy corpora make candidate pairs
    * quadratic in duplicate multiplicity, so pairs × arrays explodes —
    * the sf10 escalation measured it to a literal disk-full (~25M
    * candidate pairs × ~12 KB of strings ≈ 300 GB of spill; see
    * SCALE.md). But those same corpora make candidates CLIQUE-shaped:
    * the members of a duplicate cluster are mutual candidates. One
    * min-neighbor labeling round (g(x) = min(x, min candidate
    * neighbor)) therefore collocates whole cliques — every member of a
    * clique is a neighbor of the clique's min — and for pairs whose
    * endpoints agree on g, the verify runs GROUP-LOCALLY: each doc's
    * array ships ONCE per group (not once per pair), a per-group
    * dictionary interns strings to ints, and each pair is a two-pointer
    * sorted-int intersection. Pairs whose endpoints land in different
    * groups (chain-shaped candidates, rare by construction) and pairs
    * in groups over `spark.graft.neardup.groupMaxDocs` (default 10k
    * docs ≈ tens of MB of arrays per task) fall back to the per-pair
    * array join — both paths are exact, so the split is a pure routing
    * decision.
    *
    * Input `sets`: (id: long, sh: array<string>) with distinct
    * elements; `cands`: (id_a, id_b), id_a < id_b, distinct. Output:
    * (id_a, id_b, n_inter) — one row per candidate pair.
    */
  private[graft] def pairIntersections(cands: DataFrame,
                                       sets: DataFrame): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    val maxGroupDocs = spark.conf
      .get("spark.graft.neardup.groupMaxDocs", "10000").toInt
    // the candidate join is the expensive upstream (LSH/prefix self-join +
    // distinct) and fans out into labels (×2), routing, and both pair
    // paths — materialize it ONCE; without this, AQE freely recomputes
    // the self-join per consumer subtree
    val candsC = cands.transform(graft.core.Checkpoint.apply)
    val labels = candsC.select(col("id_a").as("id"), col("id_b").as("nb"))
      .union(candsC.select(col("id_b").as("id"), col("id_a").as("nb")))
      .groupBy(col("id")).agg(least(min(col("nb")), first(col("id"))).as("g"))
      // labels feed the routing joins (×2), the size screen, and docsG —
      // same fan-out argument
      .transform(graft.core.Checkpoint.apply)
    // groups too large for one task route to the per-pair path
    val okG = labels.groupBy(col("g")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") <= maxGroupDocs).select(col("g"))
    val routed = candsC
      .join(labels.select(col("id").as("id_a"), col("g").as("ga")), "id_a")
      .join(labels.select(col("id").as("id_b"), col("g").as("gb")), "id_b")
      .withColumn("local", col("ga") === col("gb"))
    val localPairs = routed.filter(col("local"))
      .join(okG.withColumnRenamed("g", "ga"), Seq("ga"))
      .select(col("ga").as("g"), col("id_a"), col("id_b"))
    val residualPairs = routed
      .join(okG.withColumnRenamed("g", "ga").withColumn("ok", lit(true)),
        Seq("ga"), "left")
      .filter(!col("local") || col("ok").isNull)
      .select(col("id_a"), col("id_b"))
    val docsG = sets.join(labels, "id")
      .join(okG, Seq("g"), "left_semi")
      .select(col("g"), col("id"), col("sh"))
      .as[(Long, Long, Seq[String])]
    val localCounts = docsG.groupByKey(_._1)
      .cogroup(localPairs.as[(Long, Long, Long)].groupByKey(_._1)) {
        (_, docs, pairs) =>
          val dict = new java.util.HashMap[String, Integer]()
          val byId = new scala.collection.mutable.LongMap[Array[Int]]()
          docs.foreach { case (_, id, sh) =>
            val arr = new Array[Int](sh.length)
            var i = 0
            sh.foreach { s =>
              var code = dict.get(s)
              if (code == null) { code = Integer.valueOf(dict.size); dict.put(s, code) }
              arr(i) = code.intValue; i += 1
            }
            java.util.Arrays.sort(arr)
            byId(id) = arr
          }
          // a pair whose endpoint has no row in `sets` (caller contract
          // violation) SKIPS, matching the residual path's inner-join
          // semantics — the two routing branches must fail identically
          pairs.flatMap { case (_, a, b) =>
            (byId.get(a), byId.get(b)) match {
              case (Some(sa), Some(sb)) =>
                var i = 0; var j = 0; var n = 0L
                while (i < sa.length && j < sb.length) {
                  if (sa(i) == sb(j)) { n += 1; i += 1; j += 1 }
                  else if (sa(i) < sb(j)) i += 1
                  else j += 1
                }
                Some((a, b, n))
              case _ => None
            }
          }
      }.toDF("id_a", "id_b", "n_inter")
    val residualCounts = residualPairs
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_inter"))
    localCounts.union(residualCounts)
  }

  /** MinHash-LSH-candidate n-gram Jaccard — the AT-SCALE formulation of
    * [[ngramJaccardPairs]] for LOW thresholds, where prefix filtering is
    * useless (at t = 0.3 the SSJoin prefix keeps ~70% of every set —
    * measured 3.4x SLOWER than direct at sf1) and the direct join's
    * candidate volume is Σ df² per shingle — quadratic in duplicate mass.
    *
    * Candidates come from `numPerm` independent MinHash permutations, one
    * band per permutation (bandRows = 1, OR-composition): a pair is a
    * candidate iff ANY permutation minimum agrees. P(one slot agrees) is
    * EXACTLY the pair's true Jaccard, so recall = 1 − (1−J)^numPerm —
    * deterministic per corpus (the permutations are fixed), ≥ 0.9967 at
    * the J = 0.3 floor with the default 16 perms and → 1 rapidly above
    * (≥ 1 − 1e-4 at J = 0.44). Survivors are verified with the EXACT
    * Jaccard via [[pairIntersections]] (group-local sorted-int
    * intersections, shuffle linear in corpus + pairs), so precision is
    * 1 and emitted values are identical to the direct join's — the only
    * possible divergence is a missed borderline pair, the trade every
    * production low-threshold dedup pipeline makes (this is the
    * candidate-generation role SCALE.md assigns to MinHash-LSH; the exact
    * join stays available as [[ngramJaccardPairs]]).
    *
    * Scale: signature is one fused codegen'd projection per doc; the
    * candidate join moves (id, one-long key) rows sharded `numPerm` ways,
    * never shingle occurrences, so duplicate mass costs candidate PAIRS
    * (output-bound) instead of Σ df² shingle-match rows. The length filter
    * (t·max ≤ min) rides the candidate join as in the direct form.
    */
  def ngramJaccardPairsLsh(df: DataFrame, idCol: String, textCol: String,
                           blockCols: Seq[String], shingleN: Int = 3,
                           minJaccard: Double = 0.4,
                           numPerm: Int = 16): DataFrame = {
    val base = df.select(
      (col(idCol) +: blockCols.map(col)) :+
        array_distinct(
          call_function("graft_shingles", col(textCol), lit(shingleN))).as("sh") :+
        call_function("graft_minhash", col(textCol), lit(shingleN), lit(numPerm))
          .as("sigs"): _*)
      .withColumn("n_sh", size(col("sh")))
      .transform(graft.core.Checkpoint.apply)
    val bandStructs = (0 until numPerm).map { b =>
      struct(lit(b).as("band"), element_at(col("sigs"), b + 1).as("bkey"))
    }
    val exploded = base.select(
      (col(idCol) +: blockCols.map(col)) :+ col("n_sh") :+
        explode(array(bandStructs: _*)).as("bb"): _*)
      .select((col(idCol) +: blockCols.map(col)) :+ col("n_sh") :+
        col("bb.band").as("band") :+ col("bb.bkey").as("bkey"): _*)
    val a = exploded.alias("a")
    val b = exploded.alias("b")
    val cond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col(s"a.$idCol") < col(s"b.$idCol") &&
        greatest(col("a.n_sh"), col("b.n_sh")) * lit(roundedThreshold(minJaccard)) <=
          least(col("a.n_sh"), col("b.n_sh")))(_ && _)
    val cands = a.join(b, cond)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    pairIntersections(cands, base.select(col(idCol).as("id"), col("sh")))
      .join(base.select(col(idCol).as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(base.select(col(idCol).as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        floor(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")) * 10000 + 0.5) / 10000)
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Connected components over an undirected pair list — the step that
    * turns near-dup PAIRS into duplicate CLUSTERS (A~B, B~C ⇒ {A,B,C} even
    * when A~C alone misses the threshold), so each cluster keeps one
    * canonical survivor.
    *
    * Min-label propagation with POINTER DOUBLING: every node starts labeled
    * with its own id; each round (a) takes the min of its own and its
    * neighbors' labels, then — from round 3 on — (b) shortcuts
    * label ← label(label), the classic doubling step (Shiloach-Vishkin
    * lineage; same O(log d) round bound as the large-star/small-star
    * MapReduce formulation). Plain propagation needs graph-diameter rounds
    * — a 10⁶-node chain is 10⁶ shuffles; with doubling the distance to the
    * component min halves per round, so rounds ≈ log₂(diameter) (spec: a
    * 1000-node path converges in ≤ 14 rounds). The first 2 rounds skip the
    * doubling join: near-dup graphs are small-diameter forests that
    * converge before doubling pays for its extra join — the hybrid keeps
    * the common case at propagation cost and the adversarial chain at
    * O(log d).
    *
    * Each round is two hash-shuffle joins + one groupBy, all keyed on node
    * id, and [[graft.core.Checkpoint]] truncates the growing lineage (the
    * thing that kills naive iterative Spark jobs). Invariant both steps
    * preserve: a node's label is always the id of some node in its own
    * component, and labels only decrease — so the unique fixed point is
    * min(component).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame =
    ccWithRounds(pairs, aCol, bCol, maxIter)._1

  /** [[connectedComponents]] plus the number of rounds actually run —
    * the observable the O(log diameter) convergence spec asserts on.
    */
  private[graft] def ccWithRounds(pairs: DataFrame, aCol: String, bCol: String,
                                  maxIter: Int = 20): (DataFrame, Int) = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .transform(graft.core.Checkpoint.apply)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .transform(graft.core.Checkpoint.apply)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // every node in `labels` has >= 1 edge by construction -> inner joins.
      val propagated = edges
        .join(labels.select(col("node").as("dst"), col("label").as("nbr_label")), "dst")
        .groupBy(col("src").as("node"))
        .agg(min(col("nbr_label")).as("nbr_min"))
        .join(labels, "node")
        .select(col("node"), least(col("label"), col("nbr_min")).as("p_label"),
          col("label").as("old_label"))
      // pointer doubling: label ← label(label). Label values are always
      // node ids present in `labels` (closed by induction), so the
      // self-join is total. ONE job per round: the convergence probe
      // rides the checkpoint materialization as an observed metric
      // (`Dataset.observe` — CollectMetrics computes during the eager
      // checkpoint's own action), instead of a separate isEmpty job
      // re-scanning the checkpoint every round.
      val obs = org.apache.spark.sql.Observation()
      val next = (if (iter < 2)
        propagated.select(col("node"), col("p_label").as("new_label"), col("old_label"))
      else
        propagated
          .join(propagated.select(col("node").as("p_label"), col("p_label").as("g_label")),
            Seq("p_label"))
          .select(col("node"), col("g_label").as("new_label"), col("old_label"))
      ).observe(obs, count(when(col("new_label") =!= col("old_label"), 1))
          .as("n_changed"))
        .transform(graft.core.Checkpoint.apply)
      converged = obs.get("n_changed") == 0L
      labels = next.select(col("node"), col("new_label").as("label"))
      iter += 1
    }
    (labels.withColumnRenamed("label", "component"), iter)
  }

  /** Exact n-gram Jaccard with PREFIX FILTERING — same results as
    * [[ngramJaccardPairs]] (asserted in DedupSpec), different asymptotics.
    *
    * Set-similarity-join prefix principle (SSJoin/PPJoin): order every
    * shingle set by a global total order (ascending corpus frequency, ties
    * by value); two sets with Jaccard ≥ t MUST share a shingle within their
    * first `|s| - ceil(t*|s|) + 1` elements. So the candidate self-join runs
    * on the short, rare-shingle prefixes instead of every shingle — the
    * high-frequency shingles that cause the quadratic pair blowup never
    * enter the join. Candidates are then verified exactly with one
    * `array_intersect` per pair (sets travel to the pair once, instead of
    * one joined row per shared shingle).
    *
    * Shuffles: frequency agg + per-doc rank window + candidate join +
    * two set lookups — all hash-partitioned and linear in data; the
    * quadratic term is confined to genuinely-similar prefix collisions.
    */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                              blockCols: Seq[String], shingleN: Int = 3,
                              minJaccard: Double = 0.4): DataFrame = {
    val base = df.select(
      (col(idCol) +: blockCols.map(col)) :+
        array_distinct(
          call_function("graft_shingles", col(textCol), lit(shingleN))).as("sh"): _*)
      .withColumn("n_sh", size(col("sh")))
      .transform(graft.core.Checkpoint.apply)
    val exploded = base.select(
      (col(idCol) +: blockCols.map(col)) :+ col("n_sh") :+ explode(col("sh")).as("s"): _*)
    // rarity within the block = rarity among possible partners
    val freq = exploded.groupBy((blockCols :+ "s").map(col): _*)
      .agg(count(lit(1)).as("freq"))
    val byRarity = Window.partitionBy(col(idCol))
      .orderBy(col("freq").asc, col("s").asc)
    // prefix length and size prune both use the ROUNDING-ADJUSTED
    // threshold (see [[roundedThreshold]]): a reported pair has true
    // J ≥ t − 5e-5, so |∩| ≥ ⌈t_eff·|s|⌉ and the pigeonhole prefix is
    // |s| − ⌈t_eff·|s|⌉ + 1 — recall stays exactly 1 under the rounded
    // output filter, knife-edge pairs included
    val tEff = roundedThreshold(minJaccard)
    val prefixes = exploded.join(freq, blockCols :+ "s")
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= col("n_sh") - ceil(col("n_sh") * lit(tEff)) + 1)
      .select((col(idCol) +: blockCols.map(col)) :+ col("n_sh") :+ col("s"): _*)
    val a = prefixes.alias("a")
    val b = prefixes.alias("b")
    // length filter rides the candidate join: J ≥ t_eff ⟹ t_eff·max ≤ min
    // — prunes size-mismatched prefix collisions before the pair ever
    // materializes
    val blockCond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col("a.s") === col("b.s") && col(s"a.$idCol") < col(s"b.$idCol") &&
        greatest(col("a.n_sh"), col("b.n_sh")) * lit(tEff) <=
          least(col("a.n_sh"), col("b.n_sh")))(_ && _)
    val cands = a.join(b, blockCond)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    // verify through [[pairIntersections]] (group-local, arrays ship once
    // per duplicate clique) — the naive per-pair array join here spilled
    // ~79 GB to disk-full at 30× scale, exactly the blowup the
    // containment-prefix and LSH verifies already route around
    pairIntersections(cands, base.select(col(idCol).as("id"), col("sh")))
      .join(base.select(col(idCol).as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(base.select(col(idCol).as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        floor(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")) * 10000 + 0.5) / 10000)
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Ed-Join (Xiao, Wang & Lin, VLDB'08): all pairs within a block at
    * Levenshtein distance ≤ `maxDist`, via positional q-gram prefix
    * filtering instead of the block-quadratic self-join.
    *
    * Soundness: one edit operation destroys at most `q` positional q-grams
    * and shifts survivors by ≤ `maxDist` positions, so two strings with
    * ed ≤ d share all but d·q of their gram occurrences (at position
    * distance ≤ d). By the prefix-filter lemma, the (d·q + 1) globally
    * rarest gram occurrences of each string must therefore intersect on a
    * gram value — with |Δpos| ≤ d — for every true pair: recall is exactly
    * 1, and the levenshtein verify removes collisions.
    *
    * Scale: gram explode + rarity ranking are linear in total string
    * length; the candidate join touches only (d·q+1) occurrences per
    * string, sharded by (block, gram), versus block² full strings for the
    * naive form. A cheap |len_a − len_b| ≤ d screen rides both the
    * candidate join and the verify.
    */
  def edJoinPairs(df: DataFrame, idCol: String, strCol: String,
                  blockCols: Seq[String], maxDist: Int = 2,
                  q: Int = 3): DataFrame = {
    // EXACT-DUPLICATE COLLAPSE. Real corpora (and any scaled-up test dir)
    // carry heavy exact-duplicate mass: k copies of one string yield
    // k·k' candidate pairs against every partner — the candidate join and
    // the levenshtein verify both grow quadratically in multiplicity even
    // though the distance computation is identical for every copy. So the
    // expensive part (gram explode, rarity ranking, candidate join,
    // banded-DP verify) runs once per DISTINCT (block, string), and the
    // result expands back by group membership afterwards:
    //   - cross-group pairs: every (member of A) × (member of B), the
    //     verified distance attached verbatim;
    //   - intra-group pairs: all C(m,2) id pairs at distance 0 (identical
    //     strings — exactly what the naive quadratic form emits for them).
    // Ten-fold exact duplication leaves the distinct-string core UNCHANGED;
    // only the final (output-sized) expansion joins grow.
    val w = Window.partitionBy((blockCols.map(col) :+ col("str")): _*)
    val members = df.select(
      (col(idCol).as("id") +: blockCols.map(col)) :+
        col(strCol).as("str"): _*)
      .withColumn("gid", min(col("id")).over(w))
      .transform(graft.core.Checkpoint.apply)
    val reps = members.filter(col("id") === col("gid")).drop("gid")
    val repPairs = edJoinPairsDistinct(reps, blockCols, maxDist, q)
    val crossPairs = repPairs
      .join(members.select(col("gid").as("gid_a"), col("id").as("ia")), "gid_a")
      .join(members.select(col("gid").as("gid_b"), col("id").as("ib")), "gid_b")
      .select(
        least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"),
        when(col("ia") < col("ib"), col("sa")).otherwise(col("sb")).as("str_a"),
        when(col("ia") < col("ib"), col("sb")).otherwise(col("sa")).as("str_b"),
        col("dist"))
    // Intra-group pairs must replicate the naive join's `=` semantics: a
    // NULL block value (or NULL string) never matches itself there, so
    // groups keyed on NULLs emit nothing.
    val nonNull = (blockCols.map(col(_).isNotNull) :+ col("str").isNotNull)
      .reduce(_ && _)
    val x = members.filter(nonNull).alias("x")
    val y = members.select(col("gid"), col("id")).alias("y")
    val intraPairs = x.join(y,
        col("x.gid") === col("y.gid") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.str").as("str_a"), col("x.str").as("str_b"),
        lit(0).cast("int").as("dist"))
    crossPairs.unionByName(intraPairs)
  }

  /** Ed-Join core over rows whose (block, str) are already distinct —
    * see [[edJoinPairs]] for the collapse/expand wrapper. Input columns:
    * `id`, the block columns, `str`. Output: `gid_a`, `gid_b`, `sa`,
    * `sb`, `dist` with `gid_a < gid_b`.
    */
  private def edJoinPairsDistinct(rows: DataFrame, blockCols: Seq[String],
                                  maxDist: Int, q: Int): DataFrame = {
    val prefixLen = maxDist * q + 1
    val base = rows
      .withColumn("len", length(col("str")))
      .transform(graft.core.Checkpoint.apply)
    // positional q-grams; strings shorter than q emit the whole string at
    // position 0 (still joinable — identical short strings share it)
    val grams = base.select(
      (col("id") +: blockCols.map(col)) :+ col("len") :+
        posexplode(when(col("len") < q, array(col("str")))
          .otherwise(transform(sequence(lit(0), col("len") - q),
            i => col("str").substr(i + 1, lit(q))))).as(Seq("pos", "g")): _*)
    // rarity within the block = rarity among possible partners
    val freq = grams.groupBy((blockCols :+ "g").map(col): _*)
      .agg(count(lit(1)).as("freq"))
    val byRarity = Window.partitionBy(col("id"))
      .orderBy(col("freq").asc, col("g").asc, col("pos").asc)
    val prefixes = grams.join(freq, blockCols :+ "g")
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= prefixLen)
      .select((col("id") +: blockCols.map(col)) :+ col("len") :+
        col("g") :+ col("pos"): _*)
      .transform(graft.core.Checkpoint.apply)
    val a = prefixes.alias("a")
    val b = prefixes.alias("b")
    val blockCond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
        abs(col("a.pos") - col("b.pos")) <= maxDist &&
        abs(col("a.len") - col("b.len")) <= maxDist)(_ && _)
    val cands = a.join(b, blockCond)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cands
      .join(base.select(col("id").as("id_a"), col("str").as("str_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("str").as("str_b")), "id_b")
      // bounded verify: the 3-arg levenshtein runs the banded DP
      // (O(maxDist·n) per pair, early exit) and returns -1 past the
      // bound — same distances for kept pairs as the full O(n·m) form,
      // a large constant-factor win when candidates are near-misses
      .withColumn("dist",
        levenshtein(col("str_a"), col("str_b"), maxDist).cast("int"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("id_a").as("gid_a"), col("id_b").as("gid_b"),
        col("str_a").as("sa"), col("str_b").as("sb"), col("dist"))
  }
}
