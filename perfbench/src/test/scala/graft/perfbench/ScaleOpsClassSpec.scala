package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins which ScaleOps queries `warehouse_queries` may treat as
  * read-only: a query is read-only when its SECOND call in a session
  * writes nothing — no task output, no bytes through Hadoop's file
  * system, no file created or changed under the JVM's temp dir (where
  * the program keeps its memoized archives). */
class ScaleOpsClassSpec extends AnyFunSuite {
  test("the read-only ScaleOps queries are exactly Queries.scaleReadOnly") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(tmp)
    val local = Files.createTempDirectory("spark-local-outside")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", local.toString)
      .config("spark.ui.enabled", "false").getOrCreate()
    val taskOut = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          taskOut.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
    })
    def files(): Map[Path, (Long, Long)] = {
      val s = Files.walk(tmp)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.startsWith(local))
        .map(p => p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        .toMap
      finally s.close()
    }
    try {
      val data = Files.createTempDirectory("data")
      Files.list(Paths.get("data/sf0.01")).forEach(p =>
        Files.copy(p, data.resolve(p.getFileName)))
      val readOnly = graft.ops.ScaleOps.queries.toSeq.sortBy(_._1).collect {
        case (name, fn) if {
          fn(spark, data.toString).write.format("noop").mode("overwrite").save()
          Thread.sleep(50)
          val (before, b0) = (files(), Workload.fsBytesWritten())
          taskOut.set(0)
          fn(spark, data.toString).write.format("noop").mode("overwrite").save()
          Thread.sleep(200) // let the listener bus deliver task ends
          taskOut.get == 0 && Workload.fsBytesWritten() == b0 && files() == before
        } => name
      }
      assert(readOnly.toSet == Queries.scaleReadOnly.toSet,
        s"\nmeasured read-only:  ${readOnly.sorted}" +
          s"\npinned read-only:    ${Queries.scaleReadOnly.sorted}")
    } finally spark.stop()
  }
}
