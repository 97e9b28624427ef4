package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

// ======================================================================
// analytics: the reference's clinical pipeline, then the query board
// ======================================================================

object Analytics {
  val Study = "STUDY001"
  /** Synthetic SDTM subjects the pipeline lands per pass. */
  val Subjects = 500
  val PipelineSpans: Seq[String] = Seq(
    "io.Medallion.landToBronze", "io.Medallion.bronzeToSilver",
    "warehouse.Star", "analytics.ClinicalAnalytics",
    "ml.RiskModel.fit", "ml.RiskModel.score", "ml.Registry")
  /** query -> the layer span it is recorded under: one query per layer,
    * so that a pass fits the run budget. */
  val Queries: Seq[(String, String)] = Seq(
    "q21_waiting_suppliers" -> "queries.tpch",
    "j1_star_join_broadcast" -> "queries.relational",
    "cp7_adsl" -> "warehouse.marts",
    "t33_curation_pipeline" -> "text.Curation",
    "t45_incremental_neardup_index" -> "dedup.NearDupIndex",
    "g5_pagerank_deep" -> "graph.PageRank",
    "emb15_ivf_adc_knn" -> "similarity.Ivf")
  val Spans: Seq[String] = PipelineSpans ++ Queries.map(_._2)
}

/** A pass runs the clinical pipeline and its ML steps (each step a write
  * op) into a fresh directory, then the query board (each query a read op,
  * fully evaluated through the noop sink) in an order the seed permutes
  * per pass. */
final class Analytics(spark: SparkSession, conf: Harness.Conf) extends Workload {
  import Analytics._
  private val sdtm = conf.work.resolve("sdtm")
  private var sdtmCounts = Map.empty[String, Long]
  private val suites = {
    val dm = graft.checks.SuiteLoader.fromResource("graft/suites/dm_suite.json")
    graft.io.Medallion.domainChecks.updated("DM", dm.rowChecks)
  }
  private val queries = graft.SparkEntry.queries
  private def outDir(p: Int): Path = conf.work.resolve(s"analytics-pass-$p")
  private val resultDir = conf.work.resolve("query-results")
  /** (red landing, green landing) results and the model's test metrics
    * of the last pass. */
  private var last: Option[(Seq[graft.io.Medallion.DomainResult],
    Seq[graft.io.Medallion.DomainResult], graft.ml.RiskModel.Metrics)] = None
  /** The first measured pass keeps its query results for the oracle. */
  private var resultsKept = false

  /** The board's tables, written from the seed by `perfbench/run.py`
    * before the JVM starts: data already on disk. */
  private val tables = conf.work.resolve("tables")
  private val tableNames = Files.list(tables).iterator().asScala
    .map(_.getFileName.toString.stripSuffix(".parquet")).toSeq.sorted
  private var tablesCopy: Path = _

  /** Generate the five SDTM domains as the pipeline's landing files, and
    * resolve the board's tables through the program's reader. Each
    * repetition resolves a fresh copy of the tables, so the reader's
    * per-directory plan cache starts empty every time. */
  def setup(rep: Int): Unit = {
    Dirs.deleteRecursively(sdtm)
    graft.standards.SyntheticSdtm.allDomains(spark, Subjects, conf.seed)
      .foreach { case (d, df) => df.write.parquet(sdtm.resolve(d).toString) }
    if (tablesCopy != null) Dirs.deleteRecursively(tablesCopy)
    tablesCopy = conf.work.resolve(s"tables-$rep")
    Dirs.copyRecursively(tables, tablesCopy)
    tableNames.foreach(t => graft.io.Tables(spark, tablesCopy.toString, t).schema)
  }

  def pass(p: Int, r: Runner): Unit = {
    val out = outDir(p).toString
    val runTs = to_timestamp(lit("2024-06-01 00:00:00"))
    val domains = graft.standards.Sdtm.Domains
      .map(d => d -> spark.read.parquet(sdtm.resolve(d).toString)).toMap
    val dm = domains("DM").filter(col("SUBJID") =!= "SUBJ0000")
    val landings = r.op("io.Medallion.landToBronze", "write") {
      val red = graft.io.Medallion.landToBronze(domains, Study, s"$out/bronze",
        checkSuites = suites)
      val green = graft.io.Medallion.landToBronze(domains.updated("DM", dm), Study,
        s"$out/bronze", checkSuites = suites)
      (red, green)
    }
    r.op("io.Medallion.bronzeToSilver", "write") {
      graft.io.Medallion.bronzeToSilver(spark, s"$out/bronze", Study, s"$out/silver")
    }
    val (dim, outcomes) = r.op("warehouse.Star", "write") {
      import graft.standards.Sdtm._
      val stgDm = stgDemographics(dm, Study, runTs)
      val stgAe = stgAdverseEvents(domains("AE"), Study, runTs)
      val stgLb = stgLaboratory(domains("LB"), Study, runTs)
      val stgVs = stgVitalSigns(domains("VS"), Study, runTs)
      val stgEx = stgExposure(domains("EX"), Study, runTs)
      val d = graft.warehouse.Star.dimSubject(dm)
      val o = graft.warehouse.Star.factSubjectOutcomes(
        graft.warehouse.Star.intSubjectSummary(stgDm, stgAe, stgLb, stgVs, stgEx), runTs)
      o.write.parquet(s"$out/warehouse/fact_subject_outcomes")
      (d, o)
    }
    r.op("analytics.ClinicalAnalytics", "write") {
      import graft.analytics.ClinicalAnalytics._
      val factAe = graft.warehouse.Star.factAdverseEvents(domains("AE"), dim)
      Seq("ae_rates_by_arm" -> aeRatesByArm(factAe, dim),
        "arm_distribution" -> armDistribution(dim),
        "risk_crosstab" -> riskCrosstab(outcomes))
        .foreach { case (n, df) => df.write.parquet(s"$out/analytics/$n") }
    }
    import graft.ml.RiskModel
    val (model, features, test) = r.op("ml.RiskModel.fit", "write") {
      val features = RiskModel.subjectFeatures(dm, domains("AE"))
      val (train, test) = RiskModel.stratifiedSplit(features)
      (RiskModel.pipeline().fit(train), features, test)
    }
    val metrics = r.op("ml.RiskModel.score", "write") {
      val m = RiskModel.evaluate(model, test)
      RiskModel.scoreBatch(model, features).write.parquet(s"$out/scores")
      m
    }
    r.op("ml.Registry", "write") {
      val log = new graft.ml.Registry.EventLog(s"$out/registry/events.jsonl")
      val t0 = 1717200000000L // 2024-06-01T00:00:00Z
      log.register("risk_model", 1, t0, Map("owner" -> "perfbench",
        "dataset" -> "sdtm_synth", "training_date" -> "2024-06-01"),
        Map("auc" -> metrics.auc, "ap" -> metrics.averagePrecision))
      log.transition(spark, "risk_model", 1, "Staging", t0 + 1000L)
      log.transition(spark, "risk_model", 1, "Production", t0 + 2000L)
    }
    last = Some((landings._1, landings._2, metrics))
    val keep = !resultsKept
    resultsKept = true
    for ((q, span) <- new scala.util.Random(conf.seed * 7919L + p).shuffle(Queries))
      r.opThen(span, "read") {
        val df = queries(q)(spark, tablesCopy.toString)
        df.write.format("noop").mode("overwrite").save()
        df
      } { df => if (keep) df.write.parquet(resultDir.resolve(q).toString) }
  }

  def afterPass(p: Int, r: Runner): Unit = {
    val out = outDir(p)
    if (sdtmCounts.isEmpty)
      sdtmCounts = graft.standards.Sdtm.Domains.map(d =>
        d -> spark.read.parquet(sdtm.resolve(d).toString).count()).toMap
    val (red, green, metrics) = last.get
    r.check(red.exists(x => x.domain == "DM" && !x.passed),
      "red landing did not fail on the seeded SUBJ0000 row")
    r.check(green.size == 5 && green.forall(_.passed), "clean landing did not pass")
    for (d <- graft.standards.Sdtm.Domains) {
      val want = sdtmCounts(d) - (if (d == "DM") 1 else 0)
      val got = spark.read.parquet(out.resolve(s"silver/$d.parquet").toString).count()
      r.check(got == want, s"silver $d has $got rows, want $want")
    }
    val facts = spark.read.parquet(out.resolve("warehouse/fact_subject_outcomes").toString).count()
    r.check(facts == sdtmCounts("DM") - 1,
      s"fact_subject_outcomes has $facts rows, want ${sdtmCounts("DM") - 1}")
    r.check(graft.ml.RiskModel.passesGate(metrics),
      s"ML gate (AUC >= 0.65, AP >= 0.60) failed: $metrics")
    val scores = spark.read.parquet(out.resolve("scores").toString).count()
    r.check(scores == sdtmCounts("DM") - 1, s"scores has $scores rows, want ${sdtmCounts("DM") - 1}")
    val stage = new graft.ml.Registry.EventLog(out.resolve("registry/events.jsonl").toString)
      .currentStage(spark, "risk_model", 1)
    r.check(stage.contains("Production"), s"registry stage of risk_model v1 is $stage, want Production")
    last = None
    Dirs.deleteRecursively(out)
  }

  /** Hand the first pass's query results to the DuckDB oracle check (run.py).
    * Every board query has an oracle; a missing one fails the run. */
  override def finalChecks(): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    Files.write(conf.work.resolve("oracle.json"),
      (s"""{"data":${Json.str(tablesCopy.toString)},""" +
        s""""results":${Json.str(resultDir.toString)},""" +
        Queries.map { case (q, _) => s"${Json.str(q)}:${Json.str(oracle(q))}" }
          .mkString(""""queries":{""", ",", "}}")).getBytes("UTF-8"))
  }
}

// ======================================================================
// lakehouse_rw: writes beside reads on the versioned table layer
// ======================================================================

object LakehouseRw {
  val Spans: Seq[String] = Seq(
    "ops.Versioned.commit", "ops.Versioned.mergeCommit",
    "ops.Versioned.deleteCommitMor", "ops.Versioned.applyDeletesCommit",
    "ops.Versioned.compact", "ops.Versioned.read", "sources.scan",
    "sources.connectorPlan")
  val BaseRows = 1920000L
  val Groups = 4
  val AppendRows = 60000L
  val Appends = 4
  val UpsertKeys = 48000L
  /** One base key in `DeleteEvery` is deleted, spread over all groups. */
  val DeleteEvery = 8L
}

/** A pass runs the versioned-table verbs and reads on a fresh copy of the
  * base table. Set-up builds that table with `Versioned.commit`, so the
  * appends run warm; every other verb and read runs for the first time in
  * the JVM, as in a batch job. The table is large enough that each read
  * carries its data's cost: at a sixth of this size, the JIT made the
  * first read of each kind vary by half from run to run. */
final class LakehouseRw(spark: SparkSession, conf: Harness.Conf) extends Workload {
  import LakehouseRw._
  import graft.ops.Versioned
  private val seed = conf.seed
  private val base = conf.work.resolve("lake-base")
  private def tableDir(p: Int): Path = conf.work.resolve(s"lake-pass-$p")
  private val groupRows = BaseRows / Groups
  private val k = col("k")

  /** Seeded integer in [0, n) per row: `xxhash64(seed, stream, id)`, so
    * generated rows depend only on the seed, never on partitioning. */
  private def pick(stream: String, id: Column, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(stream), id), lit(n))

  private def rows(lo: Long, hi: Long, stream: String): DataFrame =
    spark.range(lo, hi, 1L, 1).select(col("id").as("k"),
      pick(stream, col("id"), 1000000L).as("v"))

  // key sets, all functions of the seed
  private val appendStart = BaseRows + offset("append_gap", 1000L)
  private def appendRange(i: Int) =
    (appendStart + i * AppendRows, appendStart + (i + 1) * AppendRows)
  private val appendEnd = appendRange(Appends - 1)._2
  /** Upserts hit the newest keys: every other key from the last base
    * group on, plus a tail of new keys past the appends. */
  private val upsertStart = BaseRows - groupRows + offset("upsert_off", 2L)
  private val upserts: DataFrame = {
    val existing = UpsertKeys * 4 / 5
    spark.range(0L, existing, 1L, 4).select((lit(upsertStart) + col("id") * 2).as("k"))
      .union(spark.range(appendEnd + 10, appendEnd + 10 + UpsertKeys - existing, 1L, 4)
        .select(col("id").as("k")))
      .select(k, pick("upsert_v", k, 1000000L).as("v"))
  }
  private val deletes: DataFrame = spark.range(0L, BaseRows, 1L, 4)
    .filter(pick("delete", col("id"), DeleteEvery) === 0).select(col("id").as("k"))
  private val pruneLo = offset("prune_lo", BaseRows / 2)
  private val pruneHi = pruneLo + groupRows * 3 / 2

  /** A seeded offset in [0, n). */
  private def offset(stream: String, n: Long): Long =
    new scala.util.Random(seed * 31 + stream.hashCode).nextLong(n)

  private def agg(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(k), lit(0L)), coalesce(sum(col("v")), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Expected (count, sum k, sum v) before the delete, after the pass,
    * and in the pruned range: plain DataFrame algebra over the seed's
    * key sets, in one job, once, outside every timed region. */
  private lazy val (preDelete, live, pruned) = {
    val all = rows(0, BaseRows, "base_v").union(
      (0 until Appends).map(i => rows(appendRange(i)._1, appendRange(i)._2, s"append_v$i"))
        .reduce(_ union _))
    val t1 = all.join(upserts, Seq("k"), "left_anti").union(upserts)
      .join(deletes.withColumn("deleted", lit(true)), Seq("k"), "left")
    val kept = col("deleted").isNull
    val inRange = kept && k >= pruneLo && k <= pruneHi
    def sums(c: Column) = Seq(count(when(c, 1)), coalesce(sum(when(c, k)), lit(0L)),
      coalesce(sum(when(c, col("v"))), lit(0L)))
    val r = t1.agg(sums(lit(true)).head, sums(lit(true)).tail ++ sums(kept) ++ sums(inRange): _*).head()
    def triple(i: Int) = (r.getLong(i), r.getLong(i + 1), r.getLong(i + 2))
    (triple(0), triple(3), triple(6))
  }

  /** The base table: `Groups` commits of contiguous key ranges, with
    * manifest statistics on `k`. */
  def setup(rep: Int): Unit = {
    Dirs.deleteRecursively(base)
    for (g <- 0 until Groups)
      Versioned.commit(rows(g * groupRows, (g + 1) * groupRows, "base_v"), base.toString,
        statsCol = Some("k"))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
  private def connector(dir: String): DataFrame =
    spark.read.format("graft-versioned").option("path", dir).load()

  private var preDeleteVersion = 0

  def pass(p: Int, r: Runner): Unit = {
    val dir = tableDir(p)
    r.paused {
      Dirs.deleteRecursively(dir)
      Dirs.copyRecursively(base, dir)
    }
    val d = dir.toString
    for (i <- 0 until Appends) r.op("ops.Versioned.commit", "write") {
      Versioned.commit(rows(appendRange(i)._1, appendRange(i)._2, s"append_v$i"), d,
        statsCol = Some("k"))
    }
    preDeleteVersion = r.op("ops.Versioned.mergeCommit", "write") {
      Versioned.mergeCommit(upserts, d, "k", statsCol = Some("k"))
    }
    r.op("ops.Versioned.deleteCommitMor", "write")(Versioned.deleteCommitMor(deletes, d, "k"))
    r.op("ops.Versioned.read", "read")(noop(Versioned.read(spark, d)))
    r.op("sources.scan", "read")(noop(connector(d)))
    r.op("ops.Versioned.read", "read")(noop(Versioned.read(spark, d, preDeleteVersion)))
    r.op("ops.Versioned.read", "read")(noop(Versioned.prunedRead(spark, d, "k", pruneLo, pruneHi)._1))
    r.op("sources.connectorPlan", "plan") {
      // bytes this driver-only call reads: the manifests it parses
      val rchar0 = r.procField("io", "rchar")
      Versioned.connectorPlan(d)
      r.extra("sources.connectorPlan.read_kb", (r.procField("io", "rchar") - rchar0) / 1024.0)
    }
    r.op("ops.Versioned.applyDeletesCommit", "write")(Versioned.applyDeletesCommit(spark, d))
    r.op("ops.Versioned.compact", "write")(Versioned.compact(spark, d, statsCol = Some("k")))
    r.op("ops.Versioned.read", "read")(noop(Versioned.read(spark, d)))
    r.op("sources.scan", "read")(noop(connector(d)))
  }

  def afterPass(p: Int, r: Runner): Unit = {
    val dir = tableDir(p)
    val d = dir.toString
    val ops = agg(Versioned.read(spark, d))
    val conn = agg(connector(d))
    r.check(ops == live, s"Versioned.read (count, sum k, sum v) = $ops, want $live")
    r.check(conn == live, s"connector read = $conn, want $live")
    val tt = agg(Versioned.read(spark, d, preDeleteVersion))
    r.check(tt == preDelete, s"time travel to v$preDeleteVersion = $tt, want $preDelete")
    val pr = agg(Versioned.prunedRead(spark, d, "k", pruneLo, pruneHi)._1)
    r.check(pr == pruned, s"pruned read = $pr, want $pruned")
    if (conf.trace) {
      val before = Dirs.files(base)
      r.extra("ops.Versioned.files_written",
        Dirs.files(dir).count(f => !before.contains(f)).toDouble)
      val plain = conf.work.resolve("lake-plain")
      Versioned.read(spark, d).write.parquet(plain.toString)
      r.extra("space_amp", Dirs.bytes(dir).toDouble / Dirs.bytes(plain))
      Dirs.deleteRecursively(plain)
    }
    Dirs.deleteRecursively(dir)
    r.clearCaches()
  }
}
