package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class LayersSpec extends AnyFunSuite {
  test("a job's layer is the source file of its call site") {
    assert(Layers.ofSite("count at Pipeline.scala:183") == Some("etl"))
    assert(Layers.ofSite("parquet at Tables.scala:512") == Some("io"))
    assert(Layers.ofSite("collect at Relational.scala:90") == Some("ops.relational"))
    assert(Layers.ofSite("save at QueryBatch.scala:70") == None)
  }

  test("union of job intervals counts overlaps once") {
    assert(Layers.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Layers.unionMs(Nil) == 0L)
  }

  test("every benchmark query exists and has a layer") {
    (Queries.warehouse ++ Queries.curation).foreach { q =>
      assert(graft.SparkEntry.queries.contains(q), q)
      assert(Queries.layerOf.contains(q), q)
    }
    assert(Queries.scaleReadOnly.forall(graft.ops.ScaleOps.queries.contains))
  }
}
