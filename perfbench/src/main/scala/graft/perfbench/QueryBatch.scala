package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** `warehouse_queries` and `curation_batch`: passes over a fixed set of
  * `graft.SparkEntry.queries`, every pass in the same seeded order. An
  * op is one query: build its DataFrame and materialize every output
  * column with a `noop` write (`.count()` would let Catalyst prune the
  * projection and time a cheaper program). An observation on the way
  * counts the rows and sums a hash of each row's JSON form (modulo a
  * prime, so the sum cannot overflow): every op's whole output is
  * checked without running the query again.
  *
  * Set-up runs every query twice against its own copy of the data
  * directory: the program memoizes archive builds per directory, so a
  * fresh copy makes each set-up repetition rebuild them. The first run
  * saves each query's output for the DuckDB oracle check and records
  * its row count and hash, which every timed op must reproduce. */
final class QueryBatch(spark: SparkSession, seed: Long, work: String,
                       data: String, queries: Seq[String], spans: Spans)
    extends Workload {
  private var dir = ""
  private var results = ""
  private val expected = collection.mutable.Map.empty[String, (Long, Long)]
  /** One seeded order, the same in every pass: the engine's codegen
    * cache (Spark's default, 100 classes) is smaller than the classes
    * these queries generate, so whether a query finds its classes still
    * cached depends on the queries run before it, and a new order every
    * pass would make each query's latency vary from pass to pass. */
  private val order = new scala.util.Random(Landing.mix(seed, 17L))
    .shuffle(queries.toVector)
  private var pos = order.size
  private var pass = 0
  private val readOnly =
    queries.filter(q => Queries.layerOf(q) != "ops.scale" ||
      Queries.scaleReadOnly.contains(q)).toSet

  def setup(rep: Int): Unit = {
    dir = s"$work/data-$rep"
    results = s"$work/results-$rep"
    Files.createDirectories(Paths.get(dir))
    Files.list(Paths.get(data)).forEach { p =>
      Files.copy(p, Paths.get(dir).resolve(p.getFileName),
        StandardCopyOption.REPLACE_EXISTING)
    }
    // each query's first run saves its output for the out-of-process
    // oracle check and records the row count and hash timed ops must
    // reproduce
    queries.zipWithIndex.foreach { case (q, i) =>
      expected(q) = observed(q, -1 - i)(
        _.write.mode("overwrite").parquet(s"$results/$q"))
    }
    // a second, warm pass in the timed order: the JIT is still compiling
    // after the first, and that belongs in set-up, not in the first
    // timed pass
    order.foreach { q =>
      Queries.fn(q)(spark, dir).write.format("noop").mode("overwrite").save()
    }
  }

  /** Run query `q` once with the row count and content hash observed on
    * the way, writing its output with `write`. */
  private def observed(q: String, i: Int)(
      write: DataFrame => Unit): (Long, Long) = {
    val obs = Observation(s"check_$i")
    val df = Queries.fn(q)(spark, dir)
    val row = to_json(struct(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*))
    write(df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(pmod(xxhash64(row), lit(4294967291L))), lit(0L)).as("h")))
    val m = obs.get
    (m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
  }

  override def prepare(): Map[String, String] =
    Map("results" -> results, "data" -> dir)

  override def atBoundary: Boolean = pos == order.size

  def step(i: Int): Seq[Op] = {
    if (pos == order.size) {
      pass += 1
      pos = 0
    }
    val q = order(pos)
    pos += 1
    val (r, s, wrote) = Workload.timed(spans, q, Queries.layerOf(q)) {
      observed(q, i)(_.write.format("noop").mode("overwrite").save())
    }
    val (ok, n, note) = r match {
      case Left(e) => (false, 0L, Workload.message(e))
      case Right((n, h)) if (n, h) != expected(q) =>
        (false, n, s"output (rows $n, hash $h) differs from set-up's ${expected(q)}")
      case Right((n, _)) if readOnly(q) && wrote != 0 =>
        (false, n, s"read-only query wrote $wrote bytes")
      case Right((n, _)) => (true, n, "")
    }
    Seq(Op("op", q, s, ok, n, wrote, note))
  }

  def extra(ops: Seq[Op], activeS: Double): Map[String, (Double, String)] = Map(
    "result_rows_per_s" -> (ops.map(_.rows).sum / activeS, "rows/s"),
    "passes" -> (pass.toDouble, "count"),
  )
}
