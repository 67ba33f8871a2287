package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** One benchmark run in a fresh JVM (launched by `perfbench/run.py`):
  *
  *   Main --workload W --seed N --seconds S --trace 0|1
  *        --work DIR --data DIR --out FILE [--reps K]
  *
  * Starts a session with the engine's defaults, sets the workload up K
  * times from fresh paths, then runs the closed loop until S seconds of
  * timed calls have passed, runs the end-of-run checks and writes every
  * sample, check and figure to FILE as JSON. With `--trace 1` the
  * listeners in [[Recorder]] are on during the timed loop and the
  * report carries the per-layer figures ([[LayerReport]]). */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = args("work")
    val reps = args.getOrElse("reps", "3").toInt
    Files.createDirectories(Paths.get(work))

    val spark = graft.Session.local("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val spans = new Spans
    val w = Workload(name, spark, seed, work, args("data"), spans)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def log(msg: String): Unit = System.err.println(
      f"[perfbench ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f] $msg")
    val setupReps = (1 to reps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      val s = (System.nanoTime() - t0) / 1e9
      log(f"set-up $rep: $s%.2f s")
      s
    }
    val artifacts = w.prepare()
    log("prepared")

    val rec = if (trace) Some(new Recorder(spark)) else None
    rec.foreach(_.start())
    val ops = collection.mutable.ArrayBuffer.empty[Op]
    val windowStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    // a stuck program must still end the run well inside its time limit
    val hardStop = t0 + ((3 * seconds + 30) * 1e9).toLong
    var active = 0.0
    var i = 0
    while ((active < seconds || !w.atBoundary) && System.nanoTime() < hardStop) {
      val step = w.step(i)
      ops ++= step
      active = ops.map(_.seconds).sum
      log(step.map(o => f"${o.name} ${o.seconds}%.3f${if (o.ok) "" else " FAILED"}")
        .mkString(f"step $i ($active%.1f s): ", ", ", ""))
      i += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val windowEndMs = System.currentTimeMillis()
    rec.foreach { r => r.drain(); r.stop() }
    log("timed loop done")

    val checks = try w.finish() catch {
      case e: Throwable => Seq(("finish", false, Workload.message(e)))
    }
    val extra = w.extra(ops.toSeq, active)
    val layers = rec.map(r => LayerReport(r, spans.all, ops.toSeq, active,
      windowStartMs, windowEndMs, graft.Session.cpus.toInt, extra))

    val report = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "session_s" -> sessionS, "setup_reps_s" -> setupReps,
      "active_s" -> active, "window_s" -> windowS,
      "peak_rss_mb" -> peakRssMb(),
      "ops" -> ops.map(o => Map("kind" -> o.kind, "name" -> o.name,
        "s" -> o.seconds, "ok" -> o.ok, "rows" -> o.rows,
        "bytes_written" -> o.bytesWritten, "note" -> o.note)),
      "checks" -> checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "extra" -> extra.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "layers" -> layers.map(_.metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }),
      "unmeasured" -> layers.map(_.unmeasured),
      "artifacts" -> artifacts,
      "oracle_sql" -> (if (artifacts.contains("results")) graft.SparkEntry.oracleSql
        else Map.empty[String, String]),
    )
    Files.writeString(Paths.get(args("out")), Json(report))
    layers.foreach { l =>
      Files.writeString(Paths.get(args("out") + ".spans.json"),
        Json(Map("spans" -> spans.all, "jobs" -> l.jobs)))
    }
    spark.stop()
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}
