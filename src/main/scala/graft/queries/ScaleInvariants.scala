package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-free AT-SCALE verification for the iterative graph family —
  * the gates whose DuckDB oracles die of spill/OOM past ~sf1 (unrolled
  * CTEs over quadratic intermediates), leaving wall-time as their only
  * evidence above that tier. This main checks the properties a correct
  * implementation cannot violate, at any SF the engine itself can run:
  *
  *  - PARTITION-COUNT INVARIANCE: every gate is integer-arithmetic
  *    bit-stable by design, so its full output hash must be identical
  *    under different `spark.sql.shuffle.partitions` — a
  *    parallelism-dependent result (lost update in a combiner,
  *    non-associative merge, tie broken by arrival order) flips it.
  *  - CROSS-GEOMETRY EQUALITY: the broadcast and co-partitioned join
  *    geometries are two independent physical plans of one logical
  *    computation; their outputs must match exactly.
  *  - ITERATION INVARIANTS, per round with wall times (the per-iteration
  *    cost curve IS the scale story for iterative ops): pagerank rank
  *    mass is bounded by teleport+damping conservation and floored at
  *    the teleport term; LPA's distinct-label count is non-increasing
  *    and total membership is conserved; k-core peeling only ever
  *    shrinks the edge set; SSSP distances only ever settle downward
  *    (monotone non-increasing per node, settled count non-decreasing).
  *
  * Usage: `ScaleInvariants <sfDir>`; prints one JSON line per check and
  * exits non-zero on any violation — SCALE.md records the output.
  */
object ScaleInvariants {

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Content hash of a small (TopN/histogram-sized) gate result. */
  private def hashOf(df: DataFrame): String = {
    val cols = df.columns.sorted.toIndexedSeq
    val s = df.select(cols.map(col): _*).orderBy(cols.map(col): _*)
      .collect().map(_.mkString("|")).mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private var failures = 0

  private def check(name: String, cond: Boolean, detail: String): Unit = {
    if (!cond) failures += 1
    println(s"""{"check":"$name","pass":$cond,"detail":"$detail"}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = graft.core.Session.cpus
    val spark = graft.core.Session.local(cpus, "graft-scale-invariants")
    import spark.implicits._

    // ---- partition-count invariance over the five at-scale gates ----
    val gates = Seq("q_pagerank_copart", "q_lpa_copart",
      "q_triangle_copart", "q_kcore", "q_sssp_copart")
    gates.foreach { g =>
      val q = GraphOps.queries(g)
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      val (h1, t1) = timed(hashOf(q(spark, sfDir)))
      spark.conf.set("spark.sql.shuffle.partitions", "48")
      val (h2, t2) = timed(hashOf(q(spark, sfDir)))
      spark.conf.set("spark.sql.shuffle.partitions", cpus.toString)
      check(s"$g.partition_invariance", h1 == h2,
        f"p32=$h1%s (${t1}%.1fs) p48=$h2%s (${t2}%.1fs)")
    }

    // ---- cross-geometry equality: copart vs broadcast plans ----
    locally {
      val e = GraphOps.coPurchaseEdges(spark, sfDir)
      val (hc, tc) = timed(hashOf(GraphOps.triangleCensus(e, copart = true)))
      val (hb, tb) = timed(hashOf(GraphOps.triangleCensus(e, copart = false)))
      check("triangle.geometry_equality", hc == hb,
        f"copart=$hc%s (${tc}%.1fs) broadcast=$hb%s (${tb}%.1fs)")
      val row = GraphOps.triangleCensus(e, copart = true)
        .select($"n_wedges", $"n_triangles", $"clustering_micro").head()
      check("triangle.wedge_bound",
        3 * row.getLong(1) <= row.getLong(0) && row.getLong(2) <= 1000000L,
        s"wedges=${row.getLong(0)} triangles=${row.getLong(1)} " +
          s"clustering_micro=${row.getLong(2)}")
    }

    // ---- pagerank: per-iteration times + mass conservation ----
    locally {
      val (e, deg) = GraphOps.tradingGraph(spark, sfDir, copart = true)
      val n = deg.count()
      var rank = GraphOps.initialRank(deg)
      (1 to GraphOps.Iters).foreach { i =>
        val (stats, t) = timed {
          rank = GraphOps.iterate(e, deg, rank, copart = true)
            .transform(graft.core.Checkpoint.apply)
          rank.agg(sum($"r"), min($"r"), count(lit(1))).head()
        }
        val (sumR, minR, cnt) =
          (stats.getLong(0), stats.getLong(1), stats.getLong(2))
        // teleport floor 0.15e6; damped mass can only LEAK (dangling
        // nodes, integer truncation): sum <= n * 1e6 inductively
        check(s"pagerank.iter$i", minR >= 150000L && sumR <= n * 1000000L
          && cnt <= n,
          f"t=${t}%.1fs nodes=$cnt sum=$sumR min=$minR n=$n")
      }
    }

    // ---- LPA: label count non-increasing, membership conserved ----
    locally {
      val e0 = GraphOps.coPurchaseEdges(spark, sfDir)
      val eRaw = e0.unionByName(e0.select($"v".as("u"), $"u".as("v")))
        .select($"u".as("src"), $"v".as("dst"))
      val e = eRaw.repartition($"src").transform(graft.core.Checkpoint.apply)
      var labels = e.select($"src".as("node")).distinct()
        .select($"node", $"node".as("label"))
      val n = labels.count()
      var prevDistinct = n
      (1 to GraphOps.LpaIters).foreach { i =>
        val (stats, t) = timed {
          labels = e.join(broadcastless(labels), $"src" === $"node")
            .groupBy($"dst", $"label").agg(count(lit(1)).as("cnt"))
            .groupBy($"dst")
            .agg(max(struct($"cnt", (-$"label").as("neg"))).as("m"))
            .select($"dst".as("node"), (-$"m.neg").as("label"))
            .transform(graft.core.Checkpoint.apply)
          labels.agg(count(lit(1)), countDistinct($"label")).head()
        }
        val (cnt, dist) = (stats.getLong(0), stats.getLong(1))
        check(s"lpa.iter$i", cnt == n && dist <= prevDistinct,
          f"t=${t}%.1fs members=$cnt/$n communities=$dist (prev $prevDistinct)")
        prevDistinct = dist
      }
    }

    // ---- k-core: edge set monotonically shrinks per peel round ----
    locally {
      val (e0, _) = GraphOps.tradingGraph(spark, sfDir, copart = true)
      var e = e0
      var prev = e.count()
      (1 to GraphOps.PeelRounds).foreach { i =>
        val (cnt, t) = timed {
          e = GraphOps.peelRound(e, copart = true, ckptKeep = true)
            .transform(graft.core.Checkpoint.apply)
          e.count()
        }
        check(s"kcore.round$i", cnt <= prev,
          f"t=${t}%.1fs edges=$cnt (prev $prev)")
        prev = cnt
      }
    }

    // ---- SSSP: settled set grows, per-node distances never rise ----
    locally {
      val e = GraphOps.weightedTradingEdges(spark, sfDir, copart = true)
      val seeds = e.select($"src").distinct()
        .filter($"src" % 2 === 0 && ($"src" / 2) % 100 === 0)
        .select($"src".as("node"), lit(0L).as("dist"))
        .transform(graft.core.Checkpoint.apply)
      var dist = seeds
      var frontier = seeds
      var prevSettled = dist.count()
      (1 to GraphOps.SsspRounds).foreach { i =>
        val (stats, t) = timed {
          val cand = e.join(
              frontier.select($"node".as("src"), $"dist".as("fd")), "src")
            .groupBy($"dst".as("node")).agg(min($"fd" + $"w").as("cd"))
          val improved = cand
            .join(dist.select($"node", $"dist".as("old")), Seq("node"), "left_outer")
            .filter($"old".isNull || $"cd" < $"old")
            .select($"node", $"cd".as("dist"))
            .transform(graft.core.Checkpoint.apply)
          // monotonicity is structural here (improved requires cd < old);
          // assert the OUTCOME: settled count never shrinks, no negative
          // distance ever appears
          dist = dist.unionByName(improved)
            .groupBy($"node").agg(min($"dist").as("dist"))
            .transform(graft.core.Checkpoint.apply)
          frontier = improved
          dist.agg(count(lit(1)), min($"dist"), sum($"dist")).head()
        }
        val (settled, minD) = (stats.getLong(0), stats.getLong(1))
        check(s"sssp.round$i", settled >= prevSettled && minD >= 0L,
          f"t=${t}%.1fs settled=$settled (prev $prevSettled) min=$minD " +
            f"sum=${stats.getLong(2)}")
        prevSettled = settled
      }
    }

    println(s"""{"check":"ALL","pass":${failures == 0},"failures":$failures}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }

  // labels are node-sized; at the SFs this main targets they exceed the
  // broadcast threshold anyway — pass through (name documents intent)
  private def broadcastless(df: DataFrame): DataFrame = df
}
