package graft.faers

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.ScdClock

/** End-to-end medallion test over synthetic FAERS landing files — the
  * integration coverage the reference lacks entirely (SURVEY.md §5).
  * Exercises: $-CSV ingest, latest-partition reads, every silver decode,
  * dim builds + SCD2 merge, the J1-J7 fact assembly with grain explosion,
  * and a second epoch that closes changed dimension versions.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = java.time.Instant.parse("2025-01-15T00:00:00Z")
  private val clock0 = ScdClock.fixed("2025-01-15")
  private val clock1 = ScdClock.fixed("2025-06-01")

  private def writeLanding(dir: Path, name: String, header: String, rows: String*): Unit =
    Files.writeString(dir.resolve(name), (header +: rows).mkString("\n"))

  private def makeLanding(): String = {
    val dir = Files.createTempDirectory("faers_landing")
    // case 100: 2 drugs x 2 reactions x 2 outcomes (grain explosion);
    // case 101: minimal, no indication/therapy/outcome/report (left-join nulls)
    writeLanding(dir, "DEMO25Q1.txt",
      "primaryid$caseid$caseversion$i_f_code$event_dt$mfr_dt$init_fda_dt$fda_dt$rept_cod$auth_num$mfr_num$mfr_sndr$lit_ref$age$age_cod$age_grp$sex$e_sub$wt$wt_cod$rept_dt$to_mfr$occp_cod$reporter_country$occr_country",
      "100$100$1$I$20240310$$20240315$20240320$EXP$$$$$45$YR$$F$Y$70.5$KG$20240315$$MD$US$US",
      "101$101$1$I$202403$$$$EXP$$$$$6$MON$$M$Y$$$2024$$$DE$DE")
    writeLanding(dir, "DRUG25Q1.txt",
      "primaryid$caseid$drug_seq$role_cod$drugname$prod_ai$val_vbm$route$dose_vbm$cum_dose_chr$cum_dose_unit$dechal$rechal$lot_num$exp_dt$nda_num$dose_amt$dose_unit$dose_form$dose_freq",
      "100$100$1$PS$Aspirin!$ASPIRIN$1$ORAL$500 MG, DAILY$$$$$$20260101$12345$500$MG$TABLET$QD",
      "100$100$2$C$Tylenol (500)$ACETAMINOPHEN$1$ORAL$$$$$$$$$$$$",
      "101$101$1$SS$Ibuprofen$IBUPROFEN$1$IV$$$$$$$$$$$$")
    writeLanding(dir, "REAC25Q1.txt",
      "primaryid$caseid$pt$drug_rec_act",
      "100$100$DEATH$1",
      "100$100$NAUSEA$4",
      "101$101$CARDIAC ARREST$")
    writeLanding(dir, "OUTC25Q1.txt",
      "primaryid$caseid$outc_cod",
      "100$100$DE",
      "100$100$HO")
    writeLanding(dir, "INDI25Q1.txt",
      "primaryid$caseid$indi_drug_seq$indi_pt",
      "100$100$1$LUNG CANCER")
    writeLanding(dir, "RPSR25Q1.txt",
      "primaryid$caseid$rpsr_cod",
      "100$100$HP")
    writeLanding(dir, "THER25Q1.txt",
      "primaryid$caseid$dsg_drug_seq$start_dt$end_dt$dur$dur_cod",
      "100$100$1$20240201$20240301$29$DY")
    dir.toString
  }

  test("medallion end-to-end: bronze -> silver -> gold star schema") {
    Pipeline.run(spark, makeLanding(), fixedClock = Some(t0), scdClock = clock0)

    // bronze: audit columns + partitioned append
    val bronzeDemo = spark.table("bronze.demographics")
    assert(bronzeDemo.count() == 2)
    assert(bronzeDemo.columns.contains("_ingest_ts"))
    assert(bronzeDemo.columns.contains("_source_file"))

    // silver decodes
    val demo = spark.table("silver.demographics")
    val c100 = demo.filter($"primary_id" === "100")
    assert(c100.select($"event_dt".cast("string")).as[String].head() == "2024-03-10")
    assert(c100.select("age_group").as[String].head() == "Adult (18-64)")
    assert(c100.select("age_category").as[String].head() == "Years")
    assert(c100.select("weight_category").as[String].head() == "Kilograms")
    val c101 = demo.filter($"primary_id" === "101")
    assert(c101.select($"event_dt".cast("string")).as[String].head() == "2024-03-01")
    assert(c101.select($"rept_dt".cast("string")).as[String].head() == "2024-01-01")

    val reac = spark.table("silver.reactions")
    val death = reac.filter($"pt" === "DEATH")
    assert(death.select("reaction_category").as[String].head() == "Fatal")
    assert(death.select("severity_classification").as[String].head() == "Life-threatening")
    assert(death.select("reaction_priority_score").as[Int].head() == 10)
    assert(death.select("drug_rec_act_description").as[String].head() == "Drug withdrawn")
    assert(reac.filter($"pt" === "NAUSEA")
      .select("reaction_category").as[String].head() == "Gastrointestinal")

    val ther = spark.table("silver.therapy_dates")
    assert(ther.select("therapy_duration_days").as[Int].head() == 29)
    assert(ther.select("reported_duration_days").as[Double].head() == 29.0)
    assert(ther.select("therapy_status").as[String].head() == "Completed")
    assert(ther.select("duration_category").as[String].head() == "Medium-term (1-4 weeks)")

    val indi = spark.table("silver.indications")
    assert(indi.select("therapeutic_area").as[String].head() == "Oncology")

    // gold dims: SCD2 initial load, all current
    val dimPatient = spark.table("gold.dim_patient")
    assert(dimPatient.count() == 2)
    assert(dimPatient.filter(!$"is_current").count() == 0)
    assert(dimPatient.filter($"patient_primary_id" === "100")
      .select("reporter_region").as[String].head() == "North America")
    assert(spark.table("gold.dim_drug").count() == 3)
    assert(spark.table("gold.dim_date")
      .filter($"date_key" === "2024-03-10").count() == 1)

    // fact grain: case 100 = 2 reactions x 2 drugs x 2 outcomes = 8 rows
    val fact = spark.table("gold.fact_adverse_events")
    assert(fact.filter($"report_primary_id" === "100").count() == 8)
    // case 101: 1 reaction x 1 drug, left joins null -> 1 row
    assert(fact.filter($"report_primary_id" === "101").count() == 1)
    val f101 = fact.filter($"report_primary_id" === "101")
    assert(f101.select("indication_preferred_term").as[String].head() == "Unknown")
    assert(f101.select("outcome_code").as[String].head() == "Unknown")
    assert(!f101.select("has_outcome_data").as[Boolean].head())
    assert(f101.select("case_complexity").as[String].head() == "Low")

    // fatal path on case 100 DEATH+DE rows
    val fatalRows = fact.filter($"report_primary_id" === "100" &&
      $"reaction_preferred_term" === "DEATH" && $"outcome_code" === "DE")
    assert(fatalRows.count() == 2) // x2 drugs
    assert(fatalRows.select("is_fatal_outcome").as[Boolean].collect().forall(identity))
    assert(fatalRows.select("is_life_threatening_reaction").as[Boolean].collect().forall(identity))
    // date keys resolve through dim_date (implied semantics, see FactAdverseEvents)
    assert(fatalRows.select("has_event_date").as[Boolean].head())
    // 10*0.4 + 7*0.3 + 3*0.2 + 5*0.1 = 7.2
    val risk = fatalRows.filter($"is_primary_suspect_drug")
      .select($"clinical_risk_score".cast("double")).as[Double].head()
    assert(math.abs(risk - 7.2) < 1e-9)

    // analytics layer: the full 10-report runner over the gold fact
    // (each report is also hash-gated as q_faers_* over a synthetic fact)
    import graft.faers.gold.FactAnalytics
    assert(FactAnalytics.topDrugsByEvents(fact).count() == 3)
    assert(FactAnalytics.summaryInsights(fact).count() == 1)
    assert(FactAnalytics.temporalTrends(fact)
      .select("event_year").as[Int].collect().sameElements(Array(2024)))
    val reports = Pipeline.runAnalytics(spark)
    assert(reports.map(_._1).toSet.size == 10)
    reports.foreach { case (name, df) =>
      // high_risk_drugs filters total_events >= 10 — legitimately empty on
      // this 9-row fixture; every other report must return rows
      if (name != "high_risk_drugs")
        assert(df.count() > 0, s"empty analytics report: $name")
      else assert(df.columns.contains("avg_risk_score"))
    }
  }

  test("second epoch: changed demographics close dim_patient versions") {
    // epoch 2: case 100's weight changes -> SCD2 closes the old version
    val landing2 = Files.createTempDirectory("faers_landing2")
    writeLanding(landing2, "DEMO25Q2.txt",
      "primaryid$caseid$caseversion$i_f_code$event_dt$mfr_dt$init_fda_dt$fda_dt$rept_cod$auth_num$mfr_num$mfr_sndr$lit_ref$age$age_cod$age_grp$sex$e_sub$wt$wt_cod$rept_dt$to_mfr$occp_cod$reporter_country$occr_country",
      "100$100$2$F$20240310$$20240315$20240320$EXP$$$$$45$YR$$F$Y$72.0$KG$20240315$$MD$US$US",
      "101$101$1$I$202403$$$$EXP$$$$$6$MON$$M$Y$$$2024$$$DE$DE")
    Bronze.ingest(spark, "demographics", s"$landing2/DEMO25Q2.txt",
      Some(java.time.Instant.parse("2025-06-01T00:00:00Z")))
    val latest = Transforms.readLatestPartition(spark, "demographics")
    assert(latest.count() == 2) // only the new partition
    Silver.demographics(latest, Some(java.time.Instant.parse("2025-06-01T00:00:00Z")))
      .write.mode("overwrite").saveAsTable("silver.demographics")

    import graft.core.Scd2
    val spec = gold.Dims.specs.find(_.name == "dim_patient").get
    val staged = spec.build(spark.table("silver.demographics"))
    val merged = Scd2.applyScdType2Merge(
      Some(spark.table("gold.dim_patient")), staged,
      spec.businessKeys, spec.trackedCols, clock1)
    val out = merged.cache()

    // case 100: closed old + new current; case 101: untouched
    assert(out.count() == 3)
    val v100 = out.filter($"patient_primary_id" === "100")
      .orderBy("effective_date")
      .select($"patient_weight", $"is_current", $"end_date".cast("string"))
      .as[(Double, Boolean, Option[String])].collect()
    assert(v100 === Array((70.5, false, Some("2025-06-01")), (72.0, true, None)))
    assert(out.filter($"patient_primary_id" === "101" && $"is_current").count() == 1)
  }

  test("crash between swap steps: resolveTable recovers SCD2 history from __prev") {
    // simulate dying after `live -> __prev` but before staging promotion
    val rows = spark.table("gold.dim_patient").count()
    spark.sql("ALTER TABLE gold.dim_patient RENAME TO gold.dim_patient__prev")
    assert(!spark.catalog.tableExists("gold.dim_patient"))
    val recovered = Pipeline.resolveTable(spark, "gold.dim_patient")
    // history is intact, table re-promoted under the live name
    assert(recovered.isDefined && recovered.get.count() == rows)
    assert(spark.catalog.tableExists("gold.dim_patient"))
    assert(!spark.catalog.tableExists("gold.dim_patient__prev"))
    // a truly-absent table still resolves to None (initial-load path)
    assert(Pipeline.resolveTable(spark, "gold.never_existed").isEmpty)
  }

  test("scd2 dial: auto flips dims to the bucketed store by size, stays sticky") {
    import graft.core.Scd2
    // default threshold at test scale: tiny dims stay on the overwrite path
    assert(!Pipeline.useBucketedScd2(spark, "dim_patient"))
    spark.conf.set("spark.graft.scd2.bucketedMinBytes", Long.MaxValue.toString)
    try assert(!Pipeline.useBucketedScd2(spark, "dim_patient"))
    finally spark.conf.unset("spark.graft.scd2.bucketedMinBytes")
    // state here: gold.dim_patient holds epoch-1 (weight 70.5 current);
    // silver.demographics was rewritten by the second-epoch test above
    // (weight 72.0), so the bucketed runGold below must BOTH migrate the
    // epoch-1 history and apply the epoch-2 delta
    val rowsBefore = spark.table("gold.dim_patient").count()
    // size threshold of 1 byte: the dial flips
    spark.conf.set("spark.graft.scd2.bucketedMinBytes", "1")
    try {
      assert(Pipeline.useBucketedScd2(spark, "dim_patient"))
      // a gold run under the flipped dial migrates history into the
      // bucketed store and keeps gold.<dim> resolving (view facade)
      Pipeline.runGold(spark, clock1,
        today = Some(java.sql.Date.valueOf("2025-01-15")))
      val path = Pipeline.bucketedDimPath(spark, "dim_patient")
      assert(Scd2.isBucketedStore(spark, path))
      assert(spark.catalog.getTable("gold.dim_patient").tableType == "VIEW")
      val dim = spark.table("gold.dim_patient")
      assert(!dim.columns.contains("_bucket"))
      // epoch-1 history survived the migration AND the epoch-2 delta
      // merged: closed 70.5 version + new current 72.0
      val hist = dim.filter($"patient_primary_id" === "100")
        .select($"patient_weight", $"is_current")
        .as[(Double, Boolean)].collect().toSet
      assert(hist == Set((70.5, false), (72.0, true)), hist)
      assert(dim.count() == rowsBefore + 1)
      // sticky: even with the threshold out of reach, the store wins
      spark.conf.set("spark.graft.scd2.bucketedMinBytes", Long.MaxValue.toString)
      assert(Pipeline.useBucketedScd2(spark, "dim_patient"))
      spark.conf.unset("spark.graft.scd2.bucketedMinBytes")
      // and a second bucketed merge keeps exactly one current row per key
      // with the merged values (the total row count follows the
      // same-day-rerun reference edge case — see Scd2Spec — not a
      // bucketed-path concern)
      Pipeline.runGold(spark, clock1,
        today = Some(java.sql.Date.valueOf("2025-01-15")))
      val cur = spark.table("gold.dim_patient").filter($"is_current")
      // 3 = case 101 + TWO same-day versions of case 100 (the reference's
      // same-day-rerun edge, pinned in Scd2Spec) — both carry the staged
      // weight, so the bucketed path reproduces the reference semantics
      assert(cur.count() == 3)
      assert(cur.filter($"patient_primary_id" === "100")
        .select($"patient_weight").as[Double].collect().toSet == Set(72.0))
    } finally spark.conf.unset("spark.graft.scd2.bucketedMinBytes")
  }

  // the bucketed store lives OUTSIDE the managed databases (by design:
  // facade swaps must not touch it), so suite isolation removes it
  // explicitly, before AND after — a leftover store is sticky and would
  // flip the e2e run's dims
  private def dropBucketedStores(): Unit = {
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + "/gold_scd2")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    dropBucketedStores()
    Seq("bronze", "silver", "gold").foreach { db =>
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }

  override def afterAll(): Unit = {
    dropBucketedStores()
    Seq("bronze", "silver", "gold").foreach { db =>
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
    super.afterAll()
  }
}
