package graft.core

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TableLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("graft_tlog").toString

  /** numFiles the executed scans planned over (after pruning). */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long =
    graft.TestPlans.scannedFiles(df)

  test("manifest pressure: ~1k commits on a maintained table keep open/commit flat") {
    // Full-snapshot manifests cost O(current files) bytes per commit --
    // open and commit both touch exactly ONE manifest, so the operative
    // question at version 1000 is whether the FILE COUNT (hence manifest
    // size) and the MANIFEST COUNT (log listing) are bounded. With the
    // maintenance the format prescribes (periodic compact + vacuum), both
    // must stay flat: tip-manifest lines track the compacted layout, not
    // commit history, and vacuum keeps the log directory small.
    val dir = freshDir()
    val row = Seq((1L, "x")).toDF("k", "v").coalesce(1)
    var tipLinesAt100 = 0
    (1 to 1000).foreach { i =>
      TableLog.append(spark, dir, row)
      if (i % 100 == 0) {
        TableLog.compact(spark, dir, targetBytes = 1L << 30)
        TableLog.vacuum(spark, dir, keepVersions = 3, retainMs = 0L)
        if (i == 100)
          tipLinesAt100 = TableLog.manifestLines(spark, dir,
            TableLog.versions(spark, dir).last).size
      }
    }
    val tip = TableLog.versions(spark, dir).last
    val tipLines = TableLog.manifestLines(spark, dir, tip).size
    // commit cost (tip manifest size) did not grow with version count:
    // after each compact the snapshot is ONE file; the tip never lists
    // more than the ~100 appends since the last compact
    assert(tipLines <= tipLinesAt100 + 5, s"tip manifest grew: $tipLines lines")
    assert(tipLines < 120, s"tip manifest O(history)? $tipLines lines")
    // open cost: versions() lists only retained manifests, not all 1000+
    assert(TableLog.versions(spark, dir).size <= 25,
      s"log dir unbounded: ${TableLog.versions(spark, dir).size} manifests")
    // data files on disk are the compacted set + recent appends, not 1000
    val dataFiles = new java.io.File(dir).listFiles
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(dataFiles < 250, s"$dataFiles data files survived maintenance")
    // and nothing was lost across 1000 commits + 10 compactions + vacuums
    assert(TableLog.read(spark, dir).count() == 1000)
  }

  test("append/overwrite commit atomically; reads see full snapshots") {
    val dir = freshDir()
    val v1 = TableLog.append(spark, dir, spark.range(0, 100).select($"id"))
    val v2 = TableLog.append(spark, dir, spark.range(100, 250).select($"id"))
    assert(v1 == 1 && v2 == 2)
    assert(TableLog.read(spark, dir).count() == 250)
    val v3 = TableLog.overwrite(spark, dir, spark.range(0, 10).select($"id"))
    assert(v3 == 3 && TableLog.read(spark, dir).count() == 10)
  }

  test("time travel pins any retained version; snapshot diff derives the change") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 100).select($"id"))
    TableLog.append(spark, dir, spark.range(100, 150).select($"id"))
    TableLog.overwrite(spark, dir, spark.range(50, 120).select($"id"))
    assert(TableLog.read(spark, dir, Some(1)).count() == 100)
    assert(TableLog.read(spark, dir, Some(2)).count() == 150)
    assert(TableLog.read(spark, dir, Some(3)).count() == 70)
    // versions 2 -> 3 as a change feed
    val old = TableLog.read(spark, dir, Some(2))
    val neu = TableLog.read(spark, dir, Some(3))
    assert(old.join(neu, Seq("id"), "left_anti").count() == 80) // deletes
    assert(neu.join(old, Seq("id"), "left_anti").count() == 0)
  }

  test("uncommitted data files are invisible; vacuum reclaims them and old versions") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 100).select($"id"))
    // a crashed writer: data files moved in, manifest never written
    spark.range(900, 1000).select($"id")
      .write.mode("overwrite").parquet(s"$dir/.stage-deadbeef")
    val before = TableLog.read(spark, dir).count()
    assert(before == 100) // orphan staging invisible
    TableLog.append(spark, dir, spark.range(100, 130).select($"id"))
    // default retention protects young files of a possibly-in-flight
    // commit: everything here is seconds old, so nothing is reclaimed
    TableLog.vacuum(spark, dir, keepVersions = 1)
    assert(new java.io.File(dir, ".stage-deadbeef").exists())
    assert(TableLog.read(spark, dir).count() == 130)
    // retainMs=0 (quiesced table): orphans + old versions actually go
    TableLog.vacuum(spark, dir, keepVersions = 1, retainMs = 0L)
    // old version gone, tip intact, stage dir reclaimed
    assert(TableLog.versions(spark, dir) == Seq(2L))
    assert(TableLog.read(spark, dir).count() == 130)
    assert(!new java.io.File(dir, ".stage-deadbeef").exists())
    intercept[IllegalArgumentException] {
      TableLog.read(spark, dir, Some(1))
    }
  }

  test("compact rewrites layout as a new version; old layout still readable") {
    val dir = freshDir()
    (1 to 6).foreach(i => TableLog.append(spark, dir,
      spark.range((i - 1) * 50, i.toLong * 50).select($"id")))
    val tipBefore = TableLog.versions(spark, dir).last
    val (nBefore, nAfter, v) = TableLog.compact(spark, dir, targetBytes = 1L << 30)
    assert(nBefore >= 6 && nAfter == 1 && v == tipBefore + 1)
    assert(TableLog.read(spark, dir).count() == 300)
    // the pre-compaction snapshot is byte-identical data
    assert(TableLog.read(spark, dir, Some(tipBefore)).orderBy("id").collect()
      .sameElements(TableLog.read(spark, dir).orderBy("id").collect()))
    // sum preserved
    assert(TableLog.read(spark, dir).agg(sum($"id")).first.getLong(0)
      == (0L until 300L).sum)
  }

  test("random op sequences match an in-memory model (seeded)") {
    // model-based check over the whole surface: append / overwrite /
    // deleteWhere / upsert / compact / vacuum in random order must always
    // read back exactly what a trivial in-memory model holds
    val rnd = new scala.util.Random(42)
    val dir = freshDir()
    var model = Map.empty[Long, Long] // id -> v
    var nextId = 0L
    def freshBatch(n: Int): Seq[(Long, Long)] = {
      val rows = (0 until n).map(i => (nextId + i, rnd.nextLong(1000000)))
      nextId += n
      rows
    }
    def df(rows: Seq[(Long, Long)]) = rows.toDF("id", "v")
    // bootstrap
    val init = freshBatch(50)
    TableLog.append(spark, dir, df(init)); model = init.toMap
    (1 to 25).foreach { step =>
      rnd.nextInt(6) match {
        case 0 =>
          val b = freshBatch(rnd.nextInt(40) + 1)
          TableLog.append(spark, dir, df(b)); model ++= b
        case 1 =>
          val b = freshBatch(rnd.nextInt(20) + 5)
          TableLog.overwrite(spark, dir, df(b)); model = b.toMap
        case 2 if model.nonEmpty =>
          val m = rnd.nextInt(5) + 2
          TableLog.deleteWhere(spark, dir, $"id" % m === 0)
          model = model.filter(_._1 % m != 0)
        case 3 if model.nonEmpty =>
          val existing = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(10))
          val ups = existing.map(k => (k, -1L)) ++ freshBatch(rnd.nextInt(5) + 1)
          TableLog.upsert(spark, dir, df(ups), Seq("id")); model ++= ups
        case 4 if model.nonEmpty =>
          TableLog.compact(spark, dir, targetBytes = 1L << 30)
        case 5 =>
          TableLog.vacuum(spark, dir, keepVersions = 2, retainMs = 0L)
        case _ => () // op not applicable to an empty table this step
      }
      if (model.nonEmpty) {
        val got = TableLog.read(spark, dir)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == model, s"diverged at step $step")
      }
    }
  }

  test("manifest file stats drive value-range data skipping") {
    val dir = freshDir()
    (0 until 4).foreach(i => TableLog.append(spark, dir,
      spark.range(i * 100L, (i + 1) * 100L).select($"id").coalesce(1),
      statsCol = Some("id")))
    val full = TableLog.read(spark, dir)
    assert(scannedFiles(full) == 4)
    // range [150,249] intersects exactly files 1 and 2 — pruned from the
    // manifest's #stats lines alone
    val skipped = TableLog.read(spark, dir).where($"id".between(150, 249))
    assert(scannedFiles(skipped) == 2)
    assert(skipped.count() == 100)
    // stats ride with carried files across later commits (self-contained
    // manifests): a stats-less append doesn't strip the old files' stats
    TableLog.append(spark, dir, spark.range(1000, 1010).select($"id").coalesce(1))
    val after = TableLog.read(spark, dir).where($"id".between(0, 99))
    // file 0 matches; files 1-3 skipped; the stats-less new file is kept
    // conservatively
    assert(scannedFiles(after) == 2)
    assert(after.count() == 100)
  }

  test("per-partition compaction rewrites one partition, leaves the rest cold") {
    val dir = freshDir()
    // 3 appends × 2 partitions = 3 small files per partition
    (0 until 3).foreach(i => TableLog.append(spark, dir,
      spark.range(i * 100L, (i + 1) * 100L)
        .select($"id", ($"id" % 2).cast("int").as("bucket")).coalesce(1),
      partitionBy = Seq("bucket")))
    val before = TableLog.read(spark, dir).inputFiles.toSet
    val coldBefore = before.filter(_.contains("bucket=1/"))
    val (nb, na, v) = TableLog.compactPartition(spark, dir, "bucket" -> "0",
      targetBytes = 1L << 30)
    assert(nb == 3 && na == 1 && v == 4)
    val after = TableLog.read(spark, dir)
    assert(after.count() == 300)
    assert(after.filter($"bucket" === 0).count() == 150)
    // bucket=1 files are byte-identical carryovers
    assert(after.inputFiles.toSet.filter(_.contains("bucket=1/")) == coldBefore)
    assert(after.inputFiles.count(_.contains("bucket=0/")) == 1)
    // old layout still time-travelable
    assert(TableLog.read(spark, dir, Some(3)).count() == 300)
  }

  test("compactPartition preserves the FULL hive layout on multi-column partitioning") {
    // regression: compacting on the inner column must not flatten the
    // outer column out of the path (which would silently break every
    // later partition predicate on it)
    val dir = freshDir()
    (0 until 2).foreach(_ => TableLog.append(spark, dir,
      Seq((1L, 1, 1), (2L, 1, 2), (3L, 2, 2)).toDF("id", "market", "et").coalesce(1),
      partitionBy = Seq("market", "et")))
    TableLog.compactPartition(spark, dir, "et" -> "2", targetBytes = 1L << 30)
    val snap = TableLog.read(spark, dir)
    assert(snap.count() == 6)
    // rewritten files still live under market=.../et=2/
    assert(snap.inputFiles.filter(_.contains("et=2"))
      .forall(f => f.contains("market=1/et=2/") || f.contains("market=2/et=2/")))
    // partition filters on BOTH columns still work over the new layout
    assert(TableLog.read(spark, dir).where($"market" === 2).count() == 2)
    assert(TableLog.read(spark, dir).where($"et" === 2).count() == 4)
  }

  test("clustered compaction restores skipping selectivity on unclustered data") {
    val dir = freshDir()
    // interleaved appends: every file spans most of the id domain, so
    // stats-based skipping can prune nothing
    (0 until 4).foreach(i => TableLog.append(spark, dir,
      spark.range(0, 400).filter($"id" % 4 === i).select($"id").coalesce(1),
      statsCol = Some("id")))
    val before = TableLog.read(spark, dir).where($"id".between(100, 149))
    assert(scannedFiles(before) == 4) // nothing skippable
    // OPTIMIZE with clustering + fresh stats: files become range-disjoint
    val (_, nAfter, _) = TableLog.compact(spark, dir, targetBytes = 3000,
      clusterBy = Seq("id"), statsCol = Some("id"))
    assert(nAfter >= 2)
    val after = TableLog.read(spark, dir).where($"id".between(100, 149))
    val scanned = scannedFiles(after)
    assert(scanned < nAfter, s"skip pruned nothing: $scanned of $nAfter")
    assert(after.count() == 50)
    assert(TableLog.read(spark, dir).count() == 400)
  }

  test("deleteWhere keeps rows where the predicate evaluates to NULL") {
    // three-valued logic regression: !cond is NULL for a null row, and a
    // naive filter(!cond) deletes rows the predicate never matched
    val dir = freshDir()
    val rows = Seq((1L, Option("F")), (2L, Option.empty[String]), (10L, Option("F")))
      .toDF("id", "status")
    TableLog.append(spark, dir, rows)
    TableLog.deleteWhere(spark, dir, $"status" === "F" && $"id" % 10 === 0)
    val left = TableLog.read(spark, dir).select($"id").as[Long].collect().toSet
    assert(left == Set(1L, 2L)) // id=10 deleted; null-status id=2 SURVIVES
  }

  test("partition filters match whole path segments, not substrings") {
    // partitioned by (market, et): market=2/ must not satisfy et->2
    val dir = freshDir()
    TableLog.append(spark, dir,
      Seq((1L, 2, 1), (2L, 2, 2), (3L, 1, 2)).toDF("id", "market", "et"),
      partitionBy = Seq("market", "et"))
    val et2 = TableLog.read(spark, dir).where($"et" === 2)
    assert(et2.select($"id").as[Long].collect().toSet == Set(2L, 3L))
    // empty partition = empty result with schema, not an exception
    val none = TableLog.read(spark, dir).where($"et" === 9)
    assert(none.count() == 0 && none.columns.toSet == Set("id", "market", "et"))
  }

  test("copy-on-write delete/upsert rewrite only affected files") {
    val dir = freshDir()
    // 4 commits = 4 data files, disjoint id ranges
    (0 until 4).foreach(i => TableLog.append(spark, dir,
      spark.range(i * 100L, (i + 1) * 100L)
        .select($"id", ($"id" * 10).as("v")).coalesce(1)))
    val filesBefore = TableLog.read(spark, dir).inputFiles.toSet
    assert(filesBefore.size == 4)

    // delete touches ids 150..249 -> exactly 2 of the 4 files
    val (v1, rewritten) = TableLog.deleteWhere(spark, dir,
      $"id".between(150, 249))
    assert(rewritten == 2 && v1 == 5)
    val afterDelete = TableLog.read(spark, dir)
    assert(afterDelete.count() == 300)
    assert(afterDelete.filter($"id".between(150, 249)).count() == 0)
    // the two untouched files carried over verbatim
    assert((filesBefore intersect afterDelete.inputFiles.toSet).size == 2)
    // time travel still sees the deleted rows
    assert(TableLog.read(spark, dir, Some(4)).count() == 400)
    // no-match delete: version unchanged
    assert(TableLog.deleteWhere(spark, dir, $"id" === -1) == (5L, 0))

    // upsert: update id 10 (in one surviving file), insert id 9999
    val up = Seq((10L, 777L), (9999L, 1L)).toDF("id", "v")
    val (v2, rewritten2) = TableLog.upsert(spark, dir, up, Seq("id"))
    assert(v2 == 6 && rewritten2 == 1)
    val tip = TableLog.read(spark, dir)
    assert(tip.count() == 301)
    assert(tip.filter($"id" === 10).head.getLong(1) == 777L)
    assert(tip.filter($"id" === 9999).count() == 1)
    assert(tip.filter($"id" === 11).head.getLong(1) == 110L) // neighbor intact
  }

  test("partitioned commits: columns re-derive, manifest-level pruning, vacuum reclaims subdirs") {
    val dir = freshDir()
    val df = spark.range(0, 100)
      .select($"id", (($"id" % 4).cast("int")).as("bucket"))
    TableLog.append(spark, dir, df, partitionBy = Seq("bucket"))
    TableLog.append(spark, dir,
      spark.range(100, 140).select($"id", (($"id" % 4).cast("int")).as("bucket")),
      partitionBy = Seq("bucket"))
    val snap = TableLog.read(spark, dir)
    assert(snap.columns.toSet == Set("id", "bucket"))
    assert(snap.count() == 140)
    assert(snap.filter($"bucket" === 2).count() == 35)
    // partition filter prunes at the manifest: only bucket=2 files are
    // even handed to the reader
    val pruned = TableLog.read(spark, dir).where($"bucket" === 2)
    assert(pruned.count() == 35)
    assert(pruned.select($"_metadata.file_path").as[String].collect()
      .forall(_.contains("bucket=2/")))
    assert(scannedFiles(pruned) < scannedFiles(snap))
    // overwrite compacts per-partition semantics away; vacuum reclaims the
    // replaced files inside partition subdirectories
    TableLog.overwrite(spark, dir,
      spark.range(0, 10).select($"id", lit(0).cast("int").as("bucket")),
      partitionBy = Seq("bucket"))
    TableLog.vacuum(spark, dir, keepVersions = 1, retainMs = 0L)
    assert(TableLog.read(spark, dir).count() == 10)
    val leftover = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      var n = 0
      while (it.hasNext) {
        val s = it.next()
        val rel = s.getPath.toUri.getPath
        if (!rel.contains("/_") && !rel.contains("/.")) n += 1
      }
      n
    }
    assert(leftover == TableLog.read(spark, dir).inputFiles.length,
      s"unreclaimed data files: $leftover")
    // compacting a partitioned table is refused (it would flatten layout)
    intercept[IllegalArgumentException] { TableLog.compact(spark, dir) }
  }

  test("additive schema evolution: new columns surface, old rows read as null") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 10).select($"id"))
    TableLog.append(spark, dir,
      spark.range(10, 15).select($"id", ($"id" * 2).as("score")))
    val snap = TableLog.read(spark, dir)
    assert(snap.columns.toSet == Set("id", "score"))
    assert(snap.count() == 15)
    assert(snap.filter($"score".isNull).count() == 10) // pre-evolution rows
    assert(snap.filter($"score" === $"id" * 2).count() == 5)
    // time travel still sees the old shape
    assert(TableLog.read(spark, dir, Some(1)).columns.toSet == Set("id"))
  }

  test("idempotent append skips re-delivered transactions and leaves no orphans") {
    val dir = freshDir()
    val v1 = TableLog.appendIdempotent(spark, dir,
      spark.range(0, 100).select($"id"), txn = "q-0")
    assert(v1.contains(1L))
    // re-delivery of the same batch (crash-replay): no-op, no new version
    val again = TableLog.appendIdempotent(spark, dir,
      spark.range(0, 100).select($"id"), txn = "q-0")
    assert(again.isEmpty)
    assert(TableLog.versions(spark, dir) == Seq(1L))
    assert(TableLog.read(spark, dir).count() == 100)
    // a NEW batch still lands
    assert(TableLog.appendIdempotent(spark, dir,
      spark.range(100, 150).select($"id"), txn = "q-1").contains(2L))
    assert(TableLog.read(spark, dir).count() == 150)
    assert(TableLog.committedTxns(spark, dir) == Set("q-0", "q-1"))
    // the skipped retry's staged files were cleaned up: every data file in
    // the dir is referenced by the tip manifest
    val files = new java.io.File(dir).listFiles().filter(_.isFile)
      .map(_.getName).filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
    val referenced = TableLog.read(spark, dir).inputFiles
      .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    assert(files == referenced, s"orphans: ${files -- referenced}")
  }

  test("compact re-base carries racing appends but aborts on racing overwrite") {
    // append race: the winner's files survive the re-base
    assert(TableLog.rebaseCompaction("t", Set("a", "b"), Seq("z"))(
      Seq("a", "b", "c")) == Seq("z", "c"))
    // overwrite race: any compacted file missing from the new tip means the
    // snapshot this rewrite copied was replaced — committing would
    // resurrect deleted rows, so it must abort
    intercept[java.util.ConcurrentModificationException] {
      TableLog.rebaseCompaction("t", Set("a", "b"), Seq("z"))(Seq("d"))
    }
  }

  test("serializable isolation aborts a predicate delete on racing appends") {
    // guard-level, deterministic (same pattern as the rebaseCompaction
    // test): under `serializable`, any file added after the delete's read
    // snapshot aborts the commit — the racing append may hold rows the
    // predicate should have covered (Delta's ConcurrentAppendException
    // contract). Default (`snapshot`) composes, unchanged.
    val defaultGuard = TableLog.serializableGuard(spark, Set("a"), "deleteWhere")
    defaultGuard(Seq("a", "raced-append")) // no-op: write skew tolerated
    spark.conf.set("spark.graft.commit.isolation", "serializable")
    try {
      val g = TableLog.serializableGuard(spark, Set("a", "b"), "deleteWhere")
      g(Seq("a", "b")) // unchanged base commits
      g(Seq("a"))      // removals are rebaseCompaction's concern, not this guard's
      intercept[java.util.ConcurrentModificationException] {
        g(Seq("a", "b", "raced-append"))
      }
      // end-to-end: with no race, a serializable delete still commits
      val dir = freshDir()
      TableLog.append(spark, dir,
        spark.range(0, 10).select($"id", ($"id" % 2).as("g")))
      val (v, n) = TableLog.deleteWhere(spark, dir, $"g" === 1L)
      assert(v == 2 && n > 0 && TableLog.read(spark, dir).count() == 5)
    } finally spark.conf.unset("spark.graft.commit.isolation")
  }

  test("overwritePartitions replaces one partition, carries the rest untouched") {
    val dir = freshDir()
    TableLog.append(spark, dir,
      spark.range(0, 30).select($"id", ($"id" % 3).as("g")),
      partitionBy = Seq("g"))
    val before = TableLog.read(spark, dir).inputFiles
      .filterNot(_.contains("g=1")).toSet
    val v = TableLog.overwritePartitions(spark, dir,
      Seq((100L, 1L), (101L, 1L)).toDF("id", "g"), Seq("g" -> "1"))
    assert(v == 2)
    val tip = TableLog.read(spark, dir)
    assert(tip.count() == 22) // 10 + 10 survivors + 2 new
    assert(tip.filter($"g" === 1L).select("id").as[Long].collect().sorted
      .toSeq == Seq(100L, 101L))
    // untouched partitions kept their EXACT files (manifest-only carry)
    assert(tip.inputFiles.filterNot(_.contains("g=1")).toSet == before)
    // old snapshot still sees the replaced partition (time travel)
    assert(TableLog.read(spark, dir, Some(1)).filter($"g" === 1L).count() == 10)
    // non-partition column is rejected
    intercept[IllegalArgumentException] {
      TableLog.overwritePartitions(spark, dir,
        Seq((1L, 1L)).toDF("id", "g"), Seq("id" -> "1"))
    }
  }

  test("manifests are authoritative; commits are create-no-overwrite atomic") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 10).select($"id"))
    // an interloper commits v2 referencing only a subset file list (here:
    // empty) — the next append must re-base on v2, not on v1
    val log = java.nio.file.Path.of(dir, "_graft_log")
    java.nio.file.Files.writeString(log.resolve(f"${2L}%020d.manifest"), "\n")
    val v = TableLog.append(spark, dir, spark.range(10, 20).select($"id"))
    assert(v == 3)
    assert(TableLog.read(spark, dir, Some(3)).count() == 10) // v2 base was empty
    // the commit primitive refuses to overwrite an existing version —
    // target v3's actual log file (a checkpoint .manifest or a .delta,
    // depending on the checkpoint interval)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v3log = Seq("manifest", "delta")
      .map(ext => new org.apache.hadoop.fs.Path(
        s"$dir/_graft_log/${f"${3L}%020d"}.$ext"))
      .find(fs.exists)
      .getOrElse(fail("version 3 has no log file"))
    intercept[java.io.IOException] {
      fs.create(v3log, false).close()
    }
  }

  test("restore rolls back metadata-only; history records every operation") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 100).select($"id"))
    TableLog.deleteWhere(spark, dir, $"id" % 10 === 0)
    assert(TableLog.read(spark, dir).count() == 90)
    val dataFilesBefore = new java.io.File(dir).listFiles()
      .filter(_.isFile).map(_.getName).toSet
    val v = TableLog.restore(spark, dir, 1)
    // metadata-only: no new data files were written for the restore
    val dataFilesAfter = new java.io.File(dir).listFiles()
      .filter(_.isFile).map(_.getName).toSet
    assert(dataFilesAfter == dataFilesBefore)
    assert(v == 3 && TableLog.read(spark, dir).count() == 100)
    // the rollback is itself time-travelable
    assert(TableLog.read(spark, dir, Some(2)).count() == 90)
    val h = TableLog.history(spark, dir).collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L))
    assert(h.map(_.getString(1)).toSeq == Seq("restore(1)", "delete", "append"))
    // restoring a vacuumed version is refused
    TableLog.vacuum(spark, dir, keepVersions = 1, retainMs = 0)
    intercept[IllegalArgumentException](TableLog.restore(spark, dir, 2))
  }

  test("restored files keep their skipping stats from the target manifest") {
    val dir = freshDir()
    TableLog.append(spark, dir, spark.range(0, 100).select($"id"),
      statsCol = Some("id"))
    TableLog.append(spark, dir, spark.range(100, 200).select($"id"),
      statsCol = Some("id"))
    TableLog.overwrite(spark, dir, spark.range(500, 510).select($"id"))
    TableLog.restore(spark, dir, 2)
    // stats survived the overwrite->restore round trip: a range read on
    // the restored tip still prunes to the matching slice only
    val pruned = TableLog.read(spark, dir).where($"id".between(150, 160))
    assert(scannedFiles(pruned) < scannedFiles(TableLog.read(spark, dir)))
    assert(pruned.count() == 11)
  }

  test("a same-length overwrite at the same path never serves the old footer") {
    val scratch = freshDir()
    def single(df: org.apache.spark.sql.DataFrame, name: String): java.io.File = {
      df.coalesce(1).write.parquet(s"$scratch/$name")
      new java.io.File(scratch, name).listFiles
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    }
    // same rows, same-length column name: byte-for-byte the same size
    val a = single(Seq(1L, 2L).toDF("a"), "a")
    val b = single(Seq(1L, 2L).toDF("b"), "b")
    assert(a.length == b.length)
    val target = new java.io.File(scratch, "f.parquet")
    def schemaNames =
      TableLog.footerMergedSchema(spark, scratch, Seq("f.parquet"), strict = true)
        .fieldNames.toSeq
    java.nio.file.Files.copy(a.toPath, target.toPath)
    assert(schemaNames == Seq("a"))
    java.nio.file.Files.copy(b.toPath, target.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(target.setLastModified(target.lastModified + 5000))
    assert(target.length == a.length)
    assert(schemaNames == Seq("b"))
  }

  test("a data file without Spark's footer schema fails the read, named") {
    val dir = freshDir()
    // a parquet file from a non-Spark writer: no catalyst schema stamp
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { required int64 id; }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/foreign.parquet"))
      .withType(schema).build()
    w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("id", 7L))
    w.close()
    val e = intercept[IllegalStateException] {
      TableLog.footerMergedSchema(spark, dir, Seq("foreign.parquet"), strict = true)
    }
    assert(e.getMessage.contains("foreign.parquet"), e.getMessage)
  }
}
