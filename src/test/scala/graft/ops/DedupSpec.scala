package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the old river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the old river bank"), // near-dup of 1
    (3L, "completely different content about database engines and vectorized execution plans"),
    (4L, "the quick brown fox jumps over the lazy dog near the old river bank today"), // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups identical content, keeps min id") {
    val out = Dedup.exactGroups(docs, "doc_id", "text")
      .orderBy("keep_id").as[(String, Long, Long)].collect()
    assert(out.length == 3)
    val byKeep = out.map(r => r._2 -> r._3).toMap
    assert(byKeep(1L) == 2) // ids 1 and 4
    assert(byKeep(2L) == 1)
    assert(byKeep(3L) == 1)
  }

  test("minhash LSH finds the planted near-dup pair and not the unrelated doc") {
    val pairs = Dedup.minhashNearDups(docs.filter($"doc_id" =!= 4), "doc_id", "text",
        numPerm = 8, shingleN = 3, bandRows = 2, minJaccard = 0.25)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash of near-dups has small hamming distance; unrelated larger") {
    val sims = docs.withColumn("sh", Dedup.simhashExpr($"text"))
      .select("doc_id", "sh").as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(sims(1L), sims(4L)) == 0) // identical text
    assert(ham(sims(1L), sims(2L)) < ham(sims(1L), sims(3L)))
  }

  test("banded simhash returns exactly the naive all-pairs result (pigeonhole recall 1)") {
    // a larger deterministic corpus with planted near-dups: 40 base docs,
    // every 4th gets a lightly perturbed copy (one token appended)
    val base = (1 to 40).map { i =>
      val words = (0 until 12).map(j => s"w${(i * 7 + j * 13) % 30}")
      (i.toLong, "b", words.mkString(" "))
    }
    val dups = (1 to 40).filter(_ % 4 == 0).map { i =>
      val words = (0 until 12).map(j => s"w${(i * 7 + j * 13) % 30}") :+ "extra"
      (i.toLong + 1000, "b", words.mkString(" "))
    }
    val df = (base ++ dups).toDF("doc_id", "lang", "text")
    val naive = Dedup.simhashNearDups(df, "doc_id", "text", Seq("lang"),
        bits = 48, maxHamming = 3)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    val banded = Dedup.simhashNearDupsBanded(df, "doc_id", "text", Seq("lang"),
        bits = 48, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(naive.nonEmpty, "fixture planted no near-dups")
    assert(banded == naive, s"banded=$banded naive=$naive")
    // unbandable params are rejected, not silently weak
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupsBanded(df, "doc_id", "text", Seq("lang"),
        bits = 32, maxHamming = 8)
    }
  }

  test("ngram jaccard: exact dup = 1.0, near-dup high, unrelated absent") {
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        blockCols = Seq.empty, shingleN = 3, minJaccard = 0.3)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out((1L, 4L)) == 1.0)
    assert(out((1L, 2L)) > 0.7)
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("LSH banding rejects non-divisible band widths instead of dropping slots") {
    val sigs = Dedup.withMinhashSignature(docs, "text", numPerm = 8, shingleN = 3)
    intercept[IllegalArgumentException] {
      Dedup.lshCandidatePairs(sigs, "doc_id", numPerm = 8, bandRows = 3)
    }
    intercept[IllegalArgumentException] {
      Dedup.lshCandidatePairs(sigs, "doc_id", numPerm = 8, bandRows = 16)
    }
  }

  test("connected components merge chains the pair list never states directly") {
    // 1-2, 2-3, 3-4 (chain), 10-11 (island pair), 20-21/21-22/20-22 (clique)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L)) // chain needs 3 hops
    assert(cc(10L) == 10L && cc(11L) == 10L)
    assert(Seq(20L, 21L, 22L).forall(cc(_) == 20L))
    assert(cc.size == 9)
  }

  test("pointer doubling: 1000-node path converges in O(log diameter) rounds") {
    // plain min-label propagation needs ~999 rounds here; doubling halves
    // the distance to the component min each round -> ~log2(1000)
    val path = (1L until 1000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (cc, rounds) = Dedup.ccWithRounds(path, "id_a", "id_b", maxIter = 50)
    val labels = cc.as[(Long, Long)].collect()
    assert(labels.length == 1000)
    assert(labels.forall(_._2 == 1L), labels.filter(_._2 != 1L).take(5).toSeq)
    assert(rounds <= 14, s"took $rounds rounds") // 2 plain + ~log2(1000) doubled
  }

  test("CC convergence probe rides the checkpoint (early exit exact, no extra rounds)") {
    // a 2-node pair converges in round 1 (both adopt label 1) and the
    // observed-metric probe must detect the first no-change round and stop
    // at round 2 — a probe that never fires would run to maxIter, a probe
    // that misfires early would leave the chain unmerged
    val (cc1, r1) = Dedup.ccWithRounds(
      Seq((1L, 2L)).toDF("id_a", "id_b"), "id_a", "id_b", maxIter = 20)
    assert(cc1.as[(Long, Long)].collect().toMap == Map(1L -> 1L, 2L -> 1L))
    assert(r1 == 2, s"pair took $r1 rounds (1 change round + 1 probe round)")
    // 4-chain: needs propagation rounds, still exits well before maxIter
    val (cc2, r2) = Dedup.ccWithRounds(
      Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b"),
      "id_a", "id_b", maxIter = 20)
    assert(cc2.as[(Long, Long)].collect().forall(_._2 == 1L))
    assert(r2 < 20 && r2 >= 3, s"chain took $r2 rounds")
  }

  test("containment catches embedded duplication that Jaccard misses") {
    // doc 2 = doc 1 embedded in 3x more text: containment(1 in 2) = 1.0
    // while Jaccard ~ 0.33 — the asymmetric screen's whole point
    val core = (1 to 30).map(i => s"tok$i").mkString(" ")
    val padded = core + " " + (100 to 160).map(i => s"pad$i").mkString(" ")
    val docs = Seq((1L, "en", core), (2L, "en", padded), (3L, "en",
      (200 to 240).map(i => s"other$i").mkString(" "))).toDF("doc_id", "lang", "text")
    val cont = Dedup.ngramContainmentPairs(docs, "doc_id", "text",
        Seq("lang"), shingleN = 3, minContainment = 0.8)
      .as[(Long, Long, Double)].collect()
    assert(cont.map(p => (p._1, p._2)).toSet == Set((1L, 2L)), cont.toSeq)
    assert(cont.head._3 == 1.0)
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        Seq("lang"), shingleN = 3, minJaccard = 0.8)
      .as[(Long, Long, Double)].collect()
    assert(jac.isEmpty, s"jaccard should miss the embedded pair: ${jac.toSeq}")
  }

  test("common-substring pairs find planted truncated copies (recall >= 0.9)") {
    // the q_common_substrings fixture plants doc+100000 as a truncated
    // copy of every doc_id % 7 == 0; each pair shares a verbatim prefix.
    // Recall is bounded by doc length (very short docs carry < 3 rare
    // fingerprints) and by the df <= 10 boilerplate screen — measured
    // 0.958 at sf0.01 on the deterministic corpus; assert the floor.
    // (sf0.001's 50-doc corpus is too small for df <= 10 to be selective
    // over its ~30-word vocabulary, so the spec pins the gate's SF.)
    val out = graft.queries.DedupOps.commonSubstrings(spark, "/root/testdata/sf0.01")
      .as[(Long, Long, Long)].collect()
    val planted = out.filter { case (a, b, _) => b == a + 100000 }.map(_._1).toSet
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id").as[Long].collect()
    val expected = docs.filter(_ % 7 == 0).toSet
    val recall = (planted & expected).size.toDouble / expected.size
    assert(recall >= 0.9, f"planted recall $recall%.3f")
    // every reported pair really shares >= 3 fingerprints
    assert(out.forall(_._3 >= 3))
  }

  test("prefix-filtered jaccard join returns exactly the naive join's pairs") {
    // real corpus slice so prefix pruning actually has frequency skew to use
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"lang", $"text")
    val naive = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      blockCols = Seq("lang"), shingleN = 3, minJaccard = 0.2)
    val prefix = Dedup.ngramJaccardPairsPrefix(corpus, "doc_id", "text",
      blockCols = Seq("lang"), shingleN = 3, minJaccard = 0.2)
    assert(prefix.exceptAll(naive).isEmpty && naive.exceptAll(prefix).isEmpty)
    // and on the synthetic planted set too
    val n2 = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq.empty, 3, 0.3)
    val p2 = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", Seq.empty, 3, 0.3)
    assert(p2.exceptAll(n2).isEmpty && n2.exceptAll(p2).isEmpty)
  }

  test("probing-prefix containment join returns exactly the naive join's pairs") {
    // real corpus slice (frequency skew + length spread for the n_p <= n_f
    // asymmetry), at a threshold low enough to yield non-trivial pairs
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"lang", $"text")
    val naive = Dedup.ngramContainmentPairs(corpus, "doc_id", "text",
      blockCols = Seq("lang"), shingleN = 3, minContainment = 0.5)
    val prefix = Dedup.ngramContainmentPairsPrefix(corpus, "doc_id", "text",
      blockCols = Seq("lang"), shingleN = 3, minContainment = 0.5)
    assert(prefix.exceptAll(naive).isEmpty && naive.exceptAll(prefix).isEmpty)
    // the embedded-duplicate planted set: equal-size ties + subset pair
    val nd = Dedup.ngramContainmentPairs(docs, "doc_id", "text", Seq.empty, 3, 0.8)
    val pd = Dedup.ngramContainmentPairsPrefix(docs, "doc_id", "text", Seq.empty, 3, 0.8)
    assert(pd.exceptAll(nd).isEmpty && nd.exceptAll(pd).isEmpty)
  }

  test("LSH-candidate jaccard matches the exact join on real and planted corpora") {
    // Deterministic recall: the minhash permutations are fixed, so for a
    // given corpus the LSH path either finds a pair or it doesn't — no
    // flakiness. On these corpora every true pair clears the 1−(1−J)^16
    // recall curve with margin (planted near-dups are J ≥ 0.7), so the
    // forms must agree EXACTLY, emitted values included.
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"lang", $"text")
    val naive = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      blockCols = Seq("lang"), shingleN = 3, minJaccard = 0.3)
    val lsh = Dedup.ngramJaccardPairsLsh(corpus, "doc_id", "text",
      blockCols = Seq("lang"), shingleN = 3, minJaccard = 0.3, numPerm = 16)
    assert(lsh.exceptAll(naive).isEmpty, "LSH path emitted a pair the exact join lacks")
    assert(naive.exceptAll(lsh).isEmpty, "LSH path missed a pair on this corpus")
    val n2 = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq.empty, 3, 0.3)
    val l2 = Dedup.ngramJaccardPairsLsh(docs, "doc_id", "text", Seq.empty, 3, 0.3)
    assert(l2.exceptAll(n2).isEmpty && n2.exceptAll(l2).isEmpty)
  }

  private def withConf(k: String, v: String)(f: => Unit): Unit = {
    spark.conf.set(k, v)
    try f finally spark.conf.unset(k)
  }

  test("neardup dial: flips on input size, both sides reachable") {
    import graft.queries.DedupOps.neardupScaleMode
    val sf = "/root/testdata/sf0.001"
    val k = "spark.graft.neardup.directMaxInputBytes"
    // sf0.001's documents are far below the default 2 MiB threshold
    assert(!neardupScaleMode(spark, sf))
    // ...and far above a 1 KB threshold — the sf1-sizes case the dial exists
    // for: the banded form is picked from the input size alone
    withConf(k, "1024") { assert(neardupScaleMode(spark, sf)) }
    withConf(k, "1") { assert(neardupScaleMode(spark, sf)) }
    withConf(k, Long.MaxValue.toString) { assert(!neardupScaleMode(spark, sf)) }
  }

  test("ssjoin containment dial: auto flips to probing-prefix above the size threshold") {
    // SCALE.md:186 measured the flip at sf1 (82 -> 34 s); this asserts the
    // dial DECISION itself so the at-scale mode is a tested contract, not
    // a measured anecdote. Both formulations are pair-identical (the
    // probing-prefix spec below), so the flip is a pure planner choice.
    import graft.queries.DedupOps.ssjoinPrefixMode
    val sf = "/root/testdata/sf0.001"
    val k = "spark.graft.ssjoin.directMaxInputBytes"
    // below the default 2 MiB threshold -> direct
    assert(!ssjoinPrefixMode(spark, sf))
    // sf1-like sizes (threshold shrunk below the input) -> prefix
    withConf(k, "1024") { assert(ssjoinPrefixMode(spark, sf)) }
    withConf(k, "1") { assert(ssjoinPrefixMode(spark, sf)) }
    withConf(k, Long.MaxValue.toString) { assert(!ssjoinPrefixMode(spark, sf)) }
  }

  test("ed-join with exact-duplicate collapse equals the naive quadratic join") {
    // Duplicate-heavy fixture: the collapse path must reproduce the naive
    // block-quadratic join exactly — cross-group distances, intra-group
    // dist-0 pairs, NULL block/string never matching, and short strings
    // (< q) still pairing when identical.
    val rows = Seq(
      (1L, "B1", "promise burnished metallic slate"),
      (2L, "B1", "promise burnished metallic slate"),   // exact dup of 1
      (3L, "B1", "promise burnished metallic slatt"),   // dist 1 from 1/2
      (4L, "B1", "promise burnished metallic plate"),   // dist 2 twins vs slate
      (5L, "B1", "entirely unrelated string content"),  // beyond threshold
      (6L, "B2", "promise burnished metallic slate"),   // other block: no cross pair
      (7L, "B2", "promise burnished metallic slate"),   // intra-pair with 6
      (8L, null.asInstanceOf[String], "same text null block"),
      (9L, null.asInstanceOf[String], "same text null block"), // null block: nothing
      (10L, "B3", null.asInstanceOf[String]),
      (11L, "B3", null.asInstanceOf[String]),            // null string: nothing
      (12L, "B4", "ab"),
      (13L, "B4", "ab"),                                 // short (< q) exact dup
    ).toDF("id", "blk", "s")
    val fast = Dedup.edJoinPairs(rows, "id", "s", Seq("blk"), maxDist = 2, q = 3)
    val a = rows.toDF("id_a", "blk_a", "str_a")
    val b = rows.toDF("id_b", "blk_b", "str_b")
    val naive = a.join(b, $"blk_a" === $"blk_b" && $"id_a" < $"id_b" &&
        levenshtein($"str_a", $"str_b") <= 2)
      .select($"id_a", $"id_b", $"str_a", $"str_b",
        levenshtein($"str_a", $"str_b").cast("int").as("dist"))
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
    // the planted pair set sanity: (1,2) dist 0, (1,3)/(2,3) dist 1, (6,7) 0
    val got = fast.select($"id_a", $"id_b", $"dist")
      .as[(Long, Long, Int)].collect().toSet
    assert(got.contains((1L, 2L, 0)) && got.contains((1L, 3L, 1)))
    assert(got.contains((6L, 7L, 0)) && got.contains((12L, 13L, 0)))
    assert(!got.exists(p => p._1 >= 8L && p._1 <= 11L))
  }

  test("pairIntersections ≡ per-pair array_intersect: cliques, chains, cap fallback") {
    // cliques {1,2,3} and {10,11}, a CHAIN 3–20 whose endpoints label into
    // different groups (g(3)=1 via its clique, g(20)=3), plus an isolated
    // candidate (30,31); sets engineered with known overlaps
    val sets = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c", "e")),
      (3L, Seq("a", "b", "f", "g")),
      (10L, Seq("p", "q", "r")),
      (11L, Seq("p", "q", "s")),
      (20L, Seq("f", "g", "h")),
      (30L, Seq("x", "y")),
      (31L, Seq("y", "z")),
    ).toDF("id", "sh")
    val cands = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (3L, 20L),
      (30L, 31L)).toDF("id_a", "id_b")
    val naive = cands
      .join(sets.select($"id".as("id_a"), $"sh".as("sh_a")), "id_a")
      .join(sets.select($"id".as("id_b"), $"sh".as("sh_b")), "id_b")
      .select($"id_a", $"id_b",
        size(array_intersect($"sh_a", $"sh_b")).cast("long").as("n_inter"))
    def check(): Unit = {
      val fast = Dedup.pairIntersections(cands, sets)
      assert(fast.count() == cands.count()) // one row per pair, no dupes/drops
      assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
    }
    check()
    // cap of 1 doc per group forces EVERY pair through the residual path —
    // identical output proves the routing split is semantics-free
    spark.conf.set("spark.graft.neardup.groupMaxDocs", "1")
    try check() finally spark.conf.unset("spark.graft.neardup.groupMaxDocs")
  }

  test("tiled simhash ≡ block-quadratic join form (all tile-pair shapes, nulls)") {
    // corpus engineered so tile pairs of every shape carry pairs: ids
    // spread over tiles (tiles=4 ⇒ same-tile, cross-tile), two blocks,
    // a null block that must pair with nothing
    val docs = (0L until 40L).map { i =>
      val lang = if (i % 2 == 0) "en" else "de"
      val text = if (i < 20) s"the quick brown fox jumps over dog $i"
                 else s"the quick brown fox jumps over dog ${i - 20} extra"
      (i, lang, text)
    }.toDF("doc_id", "lang", "text")
      .union(Seq((99L, null.asInstanceOf[String], "the quick brown fox"))
        .toDF("doc_id", "lang", "text"))
    val join = Dedup.simhashNearDups(docs, "doc_id", "text",
        blockCols = Seq("lang"), bits = 32, maxHamming = 8)
      .select($"id_a", $"id_b", $"hamming".cast("int").as("hamming"))
    val tiled = Dedup.simhashNearDupsTiled(docs, "doc_id", "text",
      blockCols = Seq("lang"), bits = 32, maxHamming = 8, tiles = 4)
    assert(tiled.exceptAll(join).isEmpty && join.exceptAll(tiled).isEmpty)
    assert(join.count() > 0) // the planted near-dups actually paired
    assert(tiled.filter($"id_a" === 99L || $"id_b" === 99L).isEmpty)
    // degenerate single tile still exact
    val t1 = Dedup.simhashNearDupsTiled(docs, "doc_id", "text",
      blockCols = Seq("lang"), bits = 32, maxHamming = 8, tiles = 1)
    assert(t1.exceptAll(join).isEmpty && join.exceptAll(t1).isEmpty)
  }

  test("pairIntersections: both routing branches SKIP a pair missing from sets") {
    // a pair whose endpoint has no sets row (caller contract violation)
    // must fail the same way on both paths: silently dropped, like the
    // residual path's inner join — not NoSuchElementException
    val sets = Seq(
      (1L, Seq("a", "b")), (2L, Seq("a", "c")), (3L, Seq("a", "d")),
    ).toDF("id", "sh")
    val cands = Seq((1L, 2L), (2L, 99L), (1L, 3L)).toDF("id_a", "id_b")
    def got() = Dedup.pairIntersections(cands, sets)
      .as[(Long, Long, Long)].collect().toSet
    assert(got() == Set((1L, 2L, 1L), (1L, 3L, 1L))) // local path
    spark.conf.set("spark.graft.neardup.groupMaxDocs", "1")
    try assert(got() == Set((1L, 2L, 1L), (1L, 3L, 1L))) // residual path
    finally spark.conf.unset("spark.graft.neardup.groupMaxDocs")
  }

  test("pairIntersections materializes the candidate input once (no re-planned fan-out)") {
    // the expensive candidate join is checkpointed before fanning out into
    // labels/routing/pair paths: the RESULT's optimized plan must read the
    // candidates as a materialized scan, not re-plan their upstream join
    // (recognizable here by a distinctive literal filter)
    val sets = Seq((1L, Seq("a", "b")), (2L, Seq("a", "c")))
      .toDF("id", "sh")
    val l = Seq((1L, 424242L), (2L, 424242L)).toDF("id_l", "k")
    val r = Seq((2L, 424242L)).toDF("id_r", "k")
    val cands = l.join(r, "k").filter($"k" === 424242L)
      .filter($"id_l" < $"id_r")
      .select($"id_l".as("id_a"), $"id_r".as("id_b")).distinct()
    val out = Dedup.pairIntersections(cands, sets)
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("424242"), "candidate upstream re-planned:\n" + plan)
    assert(out.as[(Long, Long, Long)].collect().toSet == Set((1L, 2L, 1L)))
  }
}
