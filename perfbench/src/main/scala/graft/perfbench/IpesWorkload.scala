package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.FuzzyDedup
import graft.etl.{Enrich, IpesPipeline, IpesSchemas, Normalize, Pipeline, Validate}
import graft.etl.Pipeline.RunStats
import graft.sources.{DownloadSink, Readers, Writers}

/** Offline document fetcher: every URL answers with PDF, DOCX or DOC
  * magic bytes (chosen by the URL's hash) and a 2 KiB body.
  */
object StubFetch extends (String => Either[String, Array[Byte]]) with Serializable {
  private val magic = Array(
    "%PDF-1.7\n".getBytes("US-ASCII"), "%PDF-1.4\n".getBytes("US-ASCII"),
    Array[Byte]('P', 'K', 3, 4),
    Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte))

  def apply(url: String): Either[String, Array[Byte]] = {
    val u = url.getBytes("UTF-8")
    val head = magic(url.hashCode & 3)
    Right(head ++ Array.tabulate(2048)(i => u(i % u.length)))
  }
}

/** `ipes_pipeline`: one iteration is a cold `Pipeline.run` into an
  * empty out dir, then an incremental re-run on the same out dir whose
  * bronze is the cold bronze plus a batch of new filings and new
  * companies. Both runs use [[StubFetch]] and the generated docLimit.
  */
final class IpesWorkload(val spark: SparkSession, val input: String,
                         val work: String) extends Workload {

  private val docLimit: Int = {
    val s = new String(java.nio.file.Files.readAllBytes(
      new File(s"$input/ipes.json").toPath), "UTF-8")
    """"doc_limit":\s*(\d+)""".r.findFirstMatchIn(s).get.group(1).toInt
  }
  private val out = s"$work/out"
  /** The cold run's companies, filings and download names, kept for
    * checking the re-run against.
    */
  private val snapshot = s"$work/cold_snapshot"
  private val coldConf = conf(s"$input/bronze_cold", "2026-01-01T00:00:00Z")
  private val rerunConf = conf(s"$input/bronze_incremental", "2026-02-01T00:00:00Z")

  private def conf(bronzePath: String, ts: String) = Pipeline.Config(
    bronzePath = bronzePath, outDir = out, docLimit = docLimit, runTs = ts,
    fetch = StubFetch)

  private var last: (RunStats, RunStats) = _
  private var first: Option[(RunStats, RunStats)] = None
  private var tracedAgrees = true
  private var coldMs, rerunMs = 0.0
  private val mismatches = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Warms up with one cold run (the re-run's code paths are a subset). */
  def setup(): Unit = {
    before(-1)
    Pipeline.run(spark, coldConf)
  }

  override def before(i: Int): Unit = {
    Workload.deleteTree(new File(out))
    Workload.deleteTree(new File(snapshot))
  }

  def run(i: Int, tr: Tracer): Unit = {
    def pipeline(c: Pipeline.Config, phase: String): RunStats =
      if (tr.enabled) tr.span(phase)(traced(c, tr)) else Pipeline.run(spark, c)
    val t0 = System.nanoTime()
    val cold = pipeline(coldConf, "etl.Pipeline.cold")
    coldMs = (System.nanoTime() - t0) / 1e6
    keepColdState()
    val t1 = System.nanoTime()
    val rerun = pipeline(rerunConf, "etl.Pipeline.incremental")
    rerunMs = (System.nanoTime() - t1) / 1e6
    last = (cold, rerun)
  }

  override def timedMs: Option[Double] = Some(coldMs + rerunMs)

  override def detail: Map[String, Any] = Map("cold_ms" -> coldMs, "incremental_ms" -> rerunMs)

  private def keepColdState(): Unit = {
    Seq("companies", "filings").foreach(t => Workload.copyTree(
      new File(s"$out/structured/$t"), new File(s"$snapshot/$t")))
    val names = Option(new File(s"$out/downloads").list()).getOrElse(Array.empty[String])
    java.nio.file.Files.write(new File(s"$snapshot/downloads.txt").toPath,
      names.sorted.mkString("\n").getBytes("UTF-8"))
  }

  override def after(i: Int, traced: Boolean): Boolean = {
    val (cold, rerun) = last
    if (first.isEmpty) first = Some(last)
    val same = first.contains(last)
    if (traced && !same) tracedAgrees = false
    val problems = Seq(
      "stats differ from the first iteration" -> !same,
      "cold run had cache hits" -> (cold.cacheHits != 0),
      "enriched != companies" ->
        (cold.enriched != cold.companies || rerun.enriched != rerun.companies),
      "downloads failed" -> (cold.downloadsFailed + rerun.downloadsFailed != 0))
      .collect { case (msg, true) => s"iteration $i: $msg (cold $cold, re-run $rerun)" }
    mismatches ++= problems
    problems.isEmpty
  }

  override def finalChecks(): Seq[(String, Boolean, String)] = {
    // every blocked candidate pair of the re-run's name universe: the
    // Column predicate the dedup runs must agree with the Scala one
    val pairs = FuzzyDedup.candidatePairs(names(bronzeFrame(rerunConf.bronzePath)), "name")
      .select(col("name_a"), col("name_b"),
        FuzzyDedup.isDuplicate(col("name_a"), col("name_b"), 0.95).as("dup"))
      .collect()
    val bad = pairs.filter(r =>
      r.getBoolean(2) != FuzzyDedup.isDuplicateScala(r.getString(0), r.getString(1), 0.95))
    val edges = pairs.count(_.getBoolean(2))
    Seq(
      ("ipes.iterations", mismatches.isEmpty, mismatches.take(3).mkString("; ")),
      ("ipes.fuzzy_edges", bad.isEmpty && edges > 0,
        s"${pairs.length} candidates, $edges edges, ${bad.length} disagree with isDuplicateScala" +
          bad.take(3).map(r => s" [${r.getString(0)} | ${r.getString(1)}]").mkString),
      ("ipes.traced_stats", tracedAgrees,
        "the stage-by-stage traced runs must give Pipeline.run's RunStats"))
  }

  private def statsMap(s: RunStats): Map[String, Any] = Map(
    "companies" -> s.companies, "filings" -> s.filings,
    "valid_companies" -> s.validCompanies, "invalid_companies" -> s.invalidCompanies,
    "enriched" -> s.enriched, "cache_hits" -> s.cacheHits,
    "downloads_ok" -> s.downloadsOk, "downloads_failed" -> s.downloadsFailed)

  override def facts: Map[String, Any] = Map(
    "out_dir" -> out, "cold_snapshot" -> snapshot, "doc_limit" -> docLimit,
    "cold_stats" -> statsMap(last._1), "incremental_stats" -> statsMap(last._2))

  /** The distinct normalized names `IpesPipeline.structure` dedups over. */
  private def names(bronze: DataFrame): DataFrame = bronze
    .filter(Normalize.isRelevant(col("proceeding_description"), col("docket_number")) &&
      !Normalize.shouldExclude(col("company_name")))
    .select(Normalize.normalizeName(col("company_name")).as("name"))
    .filter(col("name") =!= "").distinct()

  private def bronzeFrame(path: String): DataFrame =
    Readers.jsonLines(spark, IpesSchemas.bronze, path)
      .filter(col("_corrupt_record").isNull).drop("_corrupt_record")

  /** `Pipeline.run`, stage by stage: the same public calls in the same
    * order with the same arguments, each inside its layer's span, and
    * each layer's output materialized inside its span so that its work
    * is charged to it. Must return the same RunStats.
    */
  private def traced(conf: Pipeline.Config, tr: Tracer): RunStats = {
    val bronze = tr.span("sources.Readers") {
      val b = bronzeFrame(conf.bronzePath)
      // aggregates a real column: a bare count() would read only the
      // corrupt-record column, which Spark refuses for raw JSON
      tr.count("rows", b.agg(count(col("submission_id"))).head.getLong(0).toDouble)
      b
    }
    val structured = tr.span("etl.IpesPipeline") {
      val s = IpesPipeline.structure(bronze, conf.ratioThreshold)
      tr.count("companies", s.companies.cache().count().toDouble)
      tr.count("filings", s.filings.cache().count().toDouble)
      s
    }
    tr.span("dedup.FuzzyDedup") {
      // the name universe and blocked pairs `structure` dedups over
      val universe = names(bronze).localCheckpoint()
      val pairs = FuzzyDedup.candidatePairs(universe, "name").localCheckpoint()
      tr.count("distinct_names", universe.count().toDouble)
      tr.count("candidate_pairs", pairs.count().toDouble)
      tr.count("edges", pairs.filter(FuzzyDedup.isDuplicate(
        col("name_a"), col("name_b"), conf.ratioThreshold)).count().toDouble)
    }
    val (split, companies, filings) = tr.span("etl.Validate") {
      val split = Validate.split(structured.companies, Validate.companyConstraint)
      val companies = split.valid.cache()
      val filings = structured.filings.cache()
      tr.count("valid", companies.count().toDouble)
      tr.count("invalid", split.invalid.count().toDouble)
      (split, companies, filings)
    }
    val outDir = new File(conf.outDir)
    def written(paths: String*): Double =
      paths.map(p => Workload.treeBytes(new File(outDir, p))).sum.toDouble
    tr.span("sources.Writers") {
      Writers.csvOrdered(companies,
        Seq("id", "entity_name", "normalized_name", "entity_type",
          "filing_count", "latest_filing_date"),
        s"${conf.outDir}/structured/companies")
      Writers.csvOrdered(filings,
        Seq("company_id", "filing_id", "date_received", "docket_number",
          "submission_type", "status", "primary_doc_url"),
        s"${conf.outDir}/structured/filings")
      Writers.json(structured.nested, s"${conf.outDir}/structured/companies_nested")
      tr.count("output_bytes", written("structured"))
    }
    val (enrichedCount, cacheHits) = tr.span("etl.Enrich") {
      val cachePath = s"${conf.outDir}/enrichment_cache"
      val cache0 =
        try spark.read.parquet(cachePath)
        catch { case _: Throwable =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType.fromDDL(
              "normalized_name STRING, is_active BOOLEAN, activity_signal STRING, " +
                "industry_segment STRING, product_summary STRING, market_position STRING, " +
                "docket_context STRING"))
        }
      val cached0 = cache0.count()
      val cacheHits = companies.join(cache0.select("normalized_name"),
        Seq("normalized_name"), "left_semi").count()
      val companyDockets = filings
        .groupBy(col("company_id"))
        .agg(array_sort(collect_set(col("docket_number"))).as("dockets"))
      val companiesWithContext = companies
        .join(companyDockets, companies("id") === companyDockets("company_id"), "left")
        .drop("company_id")
        .withColumn("dockets",
          coalesce(col("dockets"), array().cast("array<string>")))
      val (enriched, cache1) =
        Enrich.enrichWithCache(spark, companiesWithContext, cache0)
      enriched.write.mode("overwrite").parquet(s"${conf.outDir}/enriched")
      val enrichedCount = spark.read.parquet(s"${conf.outDir}/enriched").count()
      cache1.write.mode("overwrite").parquet(s"$cachePath.tmp")
      spark.read.parquet(s"$cachePath.tmp").write.mode("overwrite").parquet(cachePath)
      // every cache row added by this run is one enrichment call
      val calls = (spark.read.parquet(cachePath).count() - cached0).toDouble
      tr.count("calls", calls)
      tr.count("cache_hits", cacheHits.toDouble)
      if (conf eq rerunConf) {
        tr.count("rerun_calls", calls)
        tr.count("rerun_cache_hits", cacheHits.toDouble)
      }
      (enrichedCount, cacheHits)
    }
    val summary = tr.span("sources.DownloadSink") {
      val manifestPath = s"${conf.outDir}/downloads"
      val bytes0 = written("downloads")
      val manifest = {
        val dir = new File(manifestPath)
        val names = Option(dir.list()).getOrElse(Array.empty[String])
          .map { n =>
            val i = n.lastIndexOf('.')
            if (i >= 0) n.substring(0, i) else n
          }
        import spark.implicits._
        names.toSeq.toDF("filename")
      }
      val docQueue = filings.filter(col("primary_doc_url") =!= "")
        .join(companies.select(col("id"), col("entity_name")),
          filings("company_id") === col("id"))
        .select(col("filing_id").as("doc_id"), col("entity_name"),
          col("primary_doc_url").as("url"))
      val queue = DownloadSink.buildQueue(docQueue, manifest, conf.docLimit)
      tr.count("queued", queue.count().toDouble)
      val summary = DownloadSink.run(queue, manifestPath, conf.fetch)
      tr.count("ok", summary.succeeded.toDouble)
      tr.count("failed", summary.failed.toDouble)
      tr.count("bytes_written", written("downloads") - bytes0)
      summary
    }
    val stats = RunStats(
      companies.count(), filings.count(),
      companies.count(), split.invalid.count(),
      enrichedCount, cacheHits,
      summary.succeeded, summary.failed)
    tr.span("sources.Writers") {
      val before = written("monitoring")
      import spark.implicits._
      Writers.appendHistory(
        Seq((stats.companies, stats.filings, stats.validCompanies,
          stats.invalidCompanies, stats.enriched, stats.cacheHits,
          stats.downloadsOk, stats.downloadsFailed))
          .toDF("companies", "filings", "valid_companies", "invalid_companies",
            "enriched", "cache_hits", "downloads_ok", "downloads_failed"),
        s"${conf.outDir}/monitoring/run_stats", conf.runTs)
      tr.count("output_bytes", written("monitoring") - before)
    }
    structured.companies.unpersist()
    structured.filings.unpersist()
    companies.unpersist()
    filings.unpersist()
    stats
  }
}
