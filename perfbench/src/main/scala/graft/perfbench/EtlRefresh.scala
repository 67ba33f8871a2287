package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** `etl_refresh`: each op is one `graft.etl.Pipeline.run` — landing
  * JSON, four concurrent dimension loads, the fact load — over the next
  * day's seeded snapshot (see [[Landing]]). Generating the snapshot and
  * checking the load are outside the timed call. */
final class EtlRefresh(spark: SparkSession, seed: Long, work: String,
                       spans: Spans) extends Workload {
  private var root = ""
  private var day = 0
  private var expected: Landing.Expected = _
  private var fkRatios = Vector.empty[Double]
  private var trackRows = 0L
  private var inputBytes = 0L

  private def date(d: Int): String =
    java.time.LocalDate.of(2026, 1, 1).plusDays(d).toString

  private def landing(d: Int): Landing.Expected =
    Landing.write(s"$root/landing", date(d), seed, d)

  def setup(rep: Int): Unit = {
    root = s"$work/etl-$rep"
    // a first load and a refresh over it: the refresh runs the overwrite
    // paths the timed refreshes take, so its JIT warm-up is in set-up
    for (d <- 0 to 1) {
      day = d
      expected = landing(day)
      graft.etl.Pipeline.run(spark, s"$root/landing", s"$root/warehouse", date(day))
    }
  }

  def step(i: Int): Seq[Op] = {
    day += 1
    expected = landing(day)
    val (r, s, wrote) = Workload.timed(spans, s"Pipeline.run#$day", "etl") {
      graft.etl.Pipeline.run(spark, s"$root/landing", s"$root/warehouse", date(day))
    }
    val note = r match {
      case Left(e) => Workload.message(e)
      case Right(loaded) =>
        val (fk, problem) = EtlRefresh.verify(spark, s"$root/warehouse",
          expected, loaded)
        fkRatios :+= fk
        problem
    }
    trackRows += expected.trackRows
    inputBytes += expected.bytes
    Seq(Op("op", "Pipeline.run", s, note.isEmpty, expected.trackRows, wrote, note))
  }

  def extra(ops: Seq[Op], activeS: Double): Map[String, (Double, String)] = Map(
    "rows_per_s" -> (trackRows / activeS, "rows/s"),
    "write_amp" -> (ops.map(_.bytesWritten).sum.toDouble / inputBytes, "ratio"),
    "etl.fk_resolved_ratio" ->
      (if (fkRatios.isEmpty) 0.0 else fkRatios.sum / fkRatios.size, "ratio"),
    "landing_track_rows" -> (expected.trackRows.toDouble, "rows"),
    "fact_rows" -> (expected.factRows.toDouble, "rows"),
  ) ++ expected.dims.keys.map(d =>
    s"etl.bytes.$d" -> (EtlRefresh.dirBytes(s"$root/warehouse/$d").toDouble, "B"))
}

object EtlRefresh {
  /** Bytes of the files in a table directory as the last refresh wrote it. */
  def dirBytes(dir: String): Long = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try s.filter(p => !p.getFileName.toString.startsWith("."))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally s.close()
  }

  /** Check a load against the generator: `Pipeline.run`'s fact and
    * dimension counts, and the share of fact rows whose four joined
    * foreign keys all resolve, read back from the warehouse. Returns
    * that share and the first mismatch ("" when there is none). */
  def verify(spark: SparkSession, warehouse: String,
             expected: Landing.Expected,
             loaded: (Long, Map[String, Long])): (Double, String) = {
    val (fact, dims) = loaded
    val f = spark.read.parquet(s"$warehouse/fact_songs")
    val resolved = f.where(Seq("dim_playlist_id", "dim_artist_id",
      "dim_track_id", "dim_user_id").map(c => col(c).isNotNull).reduce(_ && _))
      .count()
    val fk = resolved.toDouble / f.count()
    val problem =
      if (fact != expected.factRows) s"fact rows $fact, expected ${expected.factRows}"
      else if (dims != expected.dims) s"dims $dims, expected ${expected.dims}"
      else if (fk != expected.fkRatio)
        s"fk resolved ratio $fk, expected ${expected.fkRatio}"
      else ""
    (fk, problem)
  }
}
