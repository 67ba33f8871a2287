package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class LandingSpec extends AnyFunSuite {
  private val small = Landing.Spec(users = 300, whale = 120, tracks = 5000,
    artists = 500)

  private def tmp(): Path = {
    val base = Path.of(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(base)
    Files.createTempDirectory(base, "landing")
  }

  private def files(root: Path): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
  }

  test("the same seed gives byte-identical landing files and expectations") {
    val (a, b) = (tmp(), tmp())
    val ea = Landing.write(a.toString, "2026-01-01", 7L, 3, small)
    val eb = Landing.write(b.toString, "2026-01-01", 7L, 3, small)
    assert(ea == eb)
    assert(files(a) == files(b))
  }

  test("another seed gives other files; consecutive days overlap ~95%") {
    val (a, b) = (tmp(), tmp())
    Landing.write(a.toString, "d", 7L, 3, small)
    Landing.write(b.toString, "d", 8L, 3, small)
    assert(files(a) != files(b))
    def slots(seed: Long, day: Int): Set[String] = {
      val d = tmp()
      Landing.write(d.toString, "d", seed, day, small)
      val text = new String(Files.readAllBytes(
        d.resolve("spotify/tracks/d/part-00000.json")), "UTF-8")
      "\"added_at\":\"[^\"]+\",\"is_local\":[a-z]+,\"id\":\"[^\"]+\"".r
        .findAllIn(text).toSet
    }
    val (d1, d2) = (slots(7L, 4), slots(7L, 5))
    val overlap = (d1 intersect d2).size.toDouble / d1.size
    assert(overlap > 0.9 && overlap < 0.99, s"overlap $overlap")
  }

  test("library sizes are Zipf by rank: a few whales, mostly a handful") {
    val sizes = Landing.librarySizes(7L, small).sorted.reverse
    assert(sizes.head == small.whale)
    assert(sizes(1) == small.whale / 2)
    assert(sizes.count(_ <= 3).toDouble / sizes.length > 0.5)
    assert(Landing.librarySizes(8L, small).sorted.reverse.toSeq == sizes.toSeq)
  }

  test("Pipeline.run loads exactly what the generator expects, for two seeds") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      Seq(11L, 12L).foreach { seed =>
        val root = tmp().toString
        val expected = Landing.write(s"$root/landing", "2026-01-02", seed, 1, small)
        val loaded = graft.etl.Pipeline.run(spark, s"$root/landing",
          s"$root/warehouse", "2026-01-02")
        val (fk, problem) = EtlRefresh.verify(spark, s"$root/warehouse",
          expected, loaded)
        assert(problem == "", s"seed $seed")
        assert(fk > 0.0 && fk < 1.0, s"seed $seed: fk resolved ratio $fk")
      }
    } finally spark.stop()
  }
}
