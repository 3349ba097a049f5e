package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark workload over generated inputs in `input`, writing
  * its outputs under `work`. [[BenchMain]] calls
  * [[setup]] once, then alternates untimed [[before]], timed [[run]]
  * and untimed [[after]] until the measuring time is spent, then
  * [[finalChecks]].
  */
trait Workload {
  def spark: SparkSession
  def input: String
  def work: String

  /** Load inputs and warm the code paths with one untimed operation. */
  def setup(): Unit

  /** Untimed preparation of iteration `i`. */
  def before(i: Int): Unit = ()

  /** The timed operation of iteration `i`; with an enabled tracer it
    * calls the engine's layers one by one inside spans.
    */
  def run(i: Int, tr: Tracer): Unit

  /** Milliseconds to charge for the last [[run]] when it did untimed
    * bookkeeping between its timed phases; None charges the whole call.
    */
  def timedMs: Option[Double] = None

  /** Per-operation figures of the last [[run]] for the result file. */
  def detail: Map[String, Any] = Map.empty

  /** What iteration `i` asks for, when operations differ (a request id). */
  def key(i: Int): String = ""

  /** Untimed check of iteration `i`'s output; false fails the op. */
  def after(i: Int, traced: Boolean): Boolean = true

  /** Untimed checks after the measuring loop: (name, ok, detail). */
  def finalChecks(): Seq[(String, Boolean, String)] = Seq.empty

  /** Facts the result file carries for the Python-side checks. */
  def facts: Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, input: String, work: String): Workload =
    name match {
      case "ipes_pipeline" => new IpesWorkload(spark, input, work)
      case "dashboard_queries" => new DashboardWorkload(spark, input, work)
      case "corpus_curation" => new CorpusWorkload(spark, input, work)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def copyTree(from: java.io.File, to: java.io.File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(c => copyTree(c, new java.io.File(to, c.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)

  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(treeBytes).sum)
    else if (f.exists()) f.length() else 0L
}
