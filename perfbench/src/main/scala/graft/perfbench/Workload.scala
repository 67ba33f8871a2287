package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One timed call of a workload: `kind` is "op" for the workload's
  * primary operation and names a secondary stream otherwise ("read",
  * "delete", "maintenance"). `ok` is false when the call threw or its
  * output failed a check. */
final case class Op(kind: String, name: String, seconds: Double, ok: Boolean,
                    rows: Long, bytesWritten: Long, note: String = "")

/** A closed-loop workload with one client. `setup` must be repeatable:
  * each repetition starts from fresh paths, so nothing a previous one
  * built is reused, and the last repetition's state serves the timed
  * steps. */
trait Workload {
  def setup(rep: Int): Unit
  /** One step of the loop: the timed calls it made, in order. */
  def step(i: Int): Seq[Op]
  /** True when the loop may stop after the last step (query workloads
    * stop only after a whole pass, so each query weighs the same). */
  def atBoundary: Boolean = true
  /** End-of-run checks: (name, passed, detail). */
  def finish(): Seq[(String, Boolean, String)] = Nil
  /** Workload-specific figures: name -> (value, unit). */
  def extra(ops: Seq[Op], activeS: Double): Map[String, (Double, String)]
  /** Untimed work after set-up: save what the out-of-process output
    * check reads, and return where it is. */
  def prepare(): Map[String, String] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, work: String,
            data: String, spans: Spans): Workload = name match {
    case "etl_refresh" => new EtlRefresh(spark, seed, work, spans)
    case "warehouse_queries" =>
      new QueryBatch(spark, seed, work, data, Queries.warehouse, spans)
    case "curation_batch" =>
      new QueryBatch(spark, seed, work, data, Queries.curation, spans)
    case "corpus_frontdoor" => new FrontDoor(spark, seed, work, data, spans)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Bytes the JVM has written through Hadoop's local file system: every
    * table, manifest and landing file the program writes (Spark's own
    * shuffle files do not go through it). */
  def fsBytesWritten(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten"))).map(_.longValue).getOrElse(0L)

  /** Bytes written, GC time spent and generated classes compiled
    * inside timed calls, summed. */
  val timedBytes = new java.util.concurrent.atomic.AtomicLong(0)
  val timedGcMs = new java.util.concurrent.atomic.AtomicLong(0)
  val timedCompiles = new java.util.concurrent.atomic.AtomicLong(0)

  /** Janino compiles of Spark's generated code (codegen cache misses). */
  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** Run one timed call inside a span: its result (or what it threw),
    * its latency in seconds and the bytes it wrote. */
  def timed[T](spans: Spans, name: String, layer: String)(body: => T)
      : (Either[Throwable, T], Double, Long) = {
    val w0 = fsBytesWritten()
    val g0 = gcMs()
    val c0 = compiles()
    val (r, s) = spans(name, layer) {
      try Right(body) catch { case e: Throwable => Left(e) }
    }
    val w = fsBytesWritten() - w0
    timedBytes.addAndGet(w)
    timedGcMs.addAndGet(gcMs() - g0)
    timedCompiles.addAndGet(compiles() - c0)
    (r, s.seconds, w)
  }

  def message(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .replaceAll("\\s+", " ").take(300)
}
