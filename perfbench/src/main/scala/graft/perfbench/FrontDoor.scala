package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.io.Tables
import graft.streaming.StreamOps

/** `corpus_frontdoor`: the streaming front door with reads beside its
  * commits.
  *
  * Set-up seeds the topology at epoch 0 — corpus store plus the winnow,
  * cluster, token, pHash and audio archives, as `StreamOpsSpec` does —
  * and drains one warm-up file. Each ingest op then stages one parquet
  * file of seeded documents and drains it through
  * `StreamOps.runFrontDoor`; every fifth step is instead a delete file
  * through `runFrontDoorDeletes`, and `runMaintenanceWindowIfDue` runs
  * every sixth step. After each commit three reads run: the
  * `consistentCorpusView` count, indexed BM25 top-k, and a Bloom-pruned
  * point lookup of seeded ids in the pHash archive.
  *
  * Documents are built from the words of the data directory's
  * documents (see `vocab`), in four kinds at fixed rates: fresh (distinct words, so
  * they pass the repetition filter), exact duplicates and near
  * duplicates of live documents, and spam. Fresh and near-duplicate
  * documents must land; duplicates and spam must not. */
final class FrontDoor(spark: SparkSession, seed: Long, work: String,
                      data: String, spans: Spans) extends Workload {
  import spark.implicits._
  import FrontDoor._

  /** Words for generated documents: ordered pairs of distinct words
    * from the corpus' texts, joined ("hashjoin"). The corpus has a few
    * dozen distinct words, too few for 40-word texts without repeats. */
  private lazy val vocab: Vector[String] = {
    val base = spark.read.parquet(s"$data/documents.parquet")
      .select("text").as[String].collect()
      .flatMap(_.split("\\s+")).map(_.toLowerCase)
      .filter(w => w.length >= 3 && w.forall(c => c >= 'a' && c <= 'z'))
      .distinct.sorted.toVector
    for (a <- base; b <- base if a != b) yield a + b
  }

  private var root = ""
  private var gen: Gen = _
  private var stagedFiles = 0
  private var offered = 0L
  private var landed = 0L
  private var expectedLanded = 0L
  private var inputBytes = 0L
  private var lastCount = 0L
  private var pruned = Vector.empty[Double]
  private var spaceAmp = 0.0

  private def stage = s"$root/stage"
  private def delStage = s"$root/del-stage"

  /** Land rows as one parquet file in `dir`, outside any timing. */
  private def land(dir: String, df: DataFrame): Long = {
    stagedFiles += 1
    val tmp = s"$root/tmp-$stagedFiles"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = Paths.get(dir, f"f$stagedFiles%05d.parquet")
    Files.createDirectories(dst.getParent)
    Files.move(part.toPath, dst)
    Files.size(dst)
  }

  private def docsDf(docs: Seq[(Long, String)]): DataFrame =
    docs.map { case (id, t) => (id, t, "en", "bench", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  def setup(rep: Int): Unit = {
    root = s"$work/frontdoor-$rep"
    gen = new Gen(seed, vocab)
    stagedFiles = 0
    val seedDocs = gen.fresh(SeedDocs)
    seedDocs.foreach { case (id, t) => gen.live(id) = t }
    val docs = docsDf(seedDocs)
    val texts = docs.select("doc_id", "text")
    StreamOps.ingestBatch(docs, 0L, s"$root/corpus")
    graft.ops.Curation.buildClusterArchiveTo(texts, s"$root/clusters")
    graft.ops.TextOps.buildWinnowIndexTo(texts, s"$root/winnow")
    graft.ops.TextOps.buildTokenIndexTo(texts, s"$root/tokens")
    graft.ops.Multimodal.buildPhashIndexTo(spark, texts, s"$root/phash")
    graft.ops.Multimodal.buildAudioFpIndexTo(spark, texts, s"$root/audio")
    Tables.computeFileBlooms(spark, s"$root/phash/hashes", "doc_id")
    // one warm-up epoch through the whole topology
    val (batch, _) = gen.batch()
    land(stage, docsDf(batch))
    StreamOps.runFrontDoor(StreamOps.readDocuments(spark, stage, Some(1)),
      root, s"$root/ckpt")
    lastCount = StreamOps.consistentCorpusView(spark, root).count()
    offered = 0L; landed = 0L; expectedLanded = 0L; inputBytes = 0L
  }

  def step(i: Int): Seq[Op] = {
    val commit =
      if (i % 5 == 4) deleteOp()
      else ingestOp()
    val maint =
      if (i % 6 == 5) {
        val (r, s, w) = Workload.timed(spans, "runMaintenanceWindowIfDue", "streaming") {
          StreamOps.runMaintenanceWindowIfDue(spark, root).collect().length
        }
        Seq(Op("maintenance", "runMaintenanceWindowIfDue", s, r.isRight, 0L, w,
          r.left.toOption.map(Workload.message).getOrElse("")))
      } else Nil
    commit ++ maint ++ reads(i)
  }

  private def ingestOp(): Seq[Op] = {
    val (batch, survivors) = gen.batch()
    inputBytes += land(stage, docsDf(batch))
    val (r, s, w) = Workload.timed(spans, "runFrontDoor", "streaming") {
      StreamOps.runFrontDoor(StreamOps.readDocuments(spark, stage, Some(1)),
        root, s"$root/ckpt")
    }
    val count = StreamOps.consistentCorpusView(spark, root).count()
    val got = count - lastCount
    lastCount = count
    offered += batch.size
    landed += got
    expectedLanded += survivors
    val note = r match {
      case Left(e) => Workload.message(e)
      case Right(_) if got != survivors => s"landed $got docs, expected $survivors"
      case _ => ""
    }
    Seq(Op("op", "runFrontDoor", s, note.isEmpty, batch.size, w, note))
  }

  private def deleteOp(): Seq[Op] = {
    val ids = gen.deletions(DeletesPerFile)
    inputBytes += land(delStage, ids.toDF("doc_id"))
    val (r, s, w) = Workload.timed(spans, "runFrontDoorDeletes", "streaming") {
      StreamOps.runFrontDoorDeletes(
        spark.readStream.schema("doc_id LONG").parquet(delStage),
        root, s"$root/ckpt-del")
    }
    lastCount = StreamOps.consistentCorpusView(spark, root).count()
    val note = r match {
      case Left(e) => Workload.message(e)
      case Right(_) if lastCount != gen.live.size =>
        s"corpus holds $lastCount docs after delete, expected ${gen.live.size}"
      case _ => ""
    }
    Seq(Op("delete", "runFrontDoorDeletes", s, note.isEmpty, ids.size, w, note))
  }

  private def reads(i: Int): Seq[Op] = {
    val live = gen.live.size.toLong
    val (c, cs, cw) = Workload.timed(spans, "consistentCorpusView.count", "streaming") {
      StreamOps.consistentCorpusView(spark, root).count()
    }
    val (b, bs, bw) = Workload.timed(spans, "bm25IndexedFrom", "ops.text") {
      graft.ops.TextOps.bm25IndexedFrom(spark, s"$root/tokens")
        .select(col("doc_id")).as[Long].collect()
    }
    val keys = gen.lookupKeys(LookupKeys)
    val keyDf = keys.toDF("doc_id")
    val (l, ls, lw) = Workload.timed(spans, "readManifestedPointLookup", "io") {
      val hit = Tables.readManifestedPointLookup(spark, s"$root/phash/hashes", keyDf)
      (hit, Tables.minusTombstones(hit, s"$root/phash/tombstones", "doc_id")
        .where(col("doc_id").isin(keys: _*))
        .select(col("doc_id")).distinct().as[Long].collect().toSet)
    }
    l.foreach { case (hit, _) => pruned :+= prunedRatio(hit) }
    def check[T](r: Either[Throwable, T])(ok: T => Option[String]): String =
      r match {
        case Left(e) => Workload.message(e)
        case Right(v) => ok(v).getOrElse("")
      }
    val cNote = check(c)(n => Option.when(n != live)(s"count $n, expected $live"))
    val bNote = check(b)(ids => Option.when(ids.exists(!gen.live.contains(_)))(
      "top-k serves a deleted or unknown doc"))
    val want = keys.filter(gen.live.contains).toSet
    val lNote = check(l.map(_._2))(got =>
      Option.when(got != want)(s"lookup $got, expected $want"))
    Seq(
      Op("read", "consistentCorpusView.count", cs, cNote.isEmpty, 1L, cw, cNote),
      Op("read", "bm25IndexedFrom", bs, bNote.isEmpty,
        b.map(_.length.toLong).getOrElse(0L), bw, bNote),
      Op("read", "readManifestedPointLookup", ls, lNote.isEmpty,
        l.map(_._2.size.toLong).getOrElse(0L), lw, lNote))
  }

  /** Bytes of the regular files under `path`. */
  private def du(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  private def prunedRatio(hit: DataFrame): Double = {
    val all = Tables.readManifested(spark, s"$root/phash/hashes").inputFiles.length
    if (all == 0) 0.0 else 1.0 - hit.inputFiles.length.toDouble / all
  }

  override def finish(): Seq[(String, Boolean, String)] = {
    StreamOps.runMaintenanceWindow(spark, root).collect()
    val view = StreamOps.consistentCorpusView(spark, root)
      .select("doc_id", "text").localCheckpoint()
    val ids = view.select("doc_id").as[Long].collect().toSet
    val ref = s"$root-ref"
    graft.ops.TextOps.buildTokenIndexTo(view, s"$ref/tokens")
    graft.ops.Multimodal.buildPhashIndexTo(spark, view, s"$ref/phash")
    graft.ops.Multimodal.buildAudioFpIndexTo(spark, view, s"$ref/audio")
    graft.ops.TextOps.buildWinnowIndexTo(view, s"$ref/winnow")
    graft.ops.Curation.buildClusterArchiveTo(view, s"$ref/clusters")
    view.write.parquet(s"$ref/corpus")
    def masked(path: String, cols: String*): Set[String] = {
      val tomb = path.stripSuffix(path.split('/').last) + "tombstones"
      val df = if (path.endsWith("/postings")) Tables.readBucketedArchive(spark, path)
        else Tables.readManifested(spark, path)
      Tables.minusTombstones(df, tomb, "doc_id").select(cols.map(col): _*)
        .collect().map(_.toString).toSet
    }
    def same(name: String, store: String, cols: String*) = {
      val a = masked(s"$root/$store", cols: _*)
      val b = masked(s"$ref/$store", cols: _*)
      (s"archive:$name", a == b,
        if (a == b) "" else s"${(a diff b).size} extra, ${(b diff a).size} missing rows")
    }
    val labels = graft.ops.Curation.readClusterLabels(spark, s"$root/clusters")
      .select("doc_id").as[Long].collect().toSet
    val stores = Seq("corpus", "winnow", "clusters", "tokens", "phash", "audio")
    spaceAmp = stores.map(s => du(s"$root/$s")).sum.toDouble /
      stores.map(s => du(s"$ref/$s")).sum
    Seq(
      ("corpus:survivors", ids == gen.live.keySet,
        s"${(ids diff gen.live.keySet).size} unexpected, " +
          s"${(gen.live.keySet diff ids).size} missing"),
      ("streaming:survivor_ratio", landed == expectedLanded,
        s"landed $landed of $offered, expected $expectedLanded"),
      same("tokens", "tokens/postings", "doc_id", "token", "tf"),
      same("phash", "phash/hashes", "doc_id", "ph"),
      same("audio", "audio/hashes", "doc_id", "afp"),
      same("winnow", "winnow/fingerprints", "doc_id", "wmin"),
      ("archive:cluster_labels", labels == gen.live.keySet,
        s"${labels.size} labelled docs, ${gen.live.size} live"),
    )
  }

  def extra(ops: Seq[Op], activeS: Double): Map[String, (Double, String)] = {
    val commits = ops.filter(o => o.kind != "read")
    Map(
      "rows_per_s" -> (offered / activeS, "rows/s"),
      "write_amp" -> (commits.map(_.bytesWritten).sum.toDouble / inputBytes, "ratio"),
      "space_amp" -> (spaceAmp, "ratio"),
      "streaming.survivor_ratio" ->
        (if (offered == 0) 0.0 else landed.toDouble / offered, "ratio"),
      "streaming.expected_survivor_ratio" ->
        (if (offered == 0) 0.0 else expectedLanded.toDouble / offered, "ratio"),
      "io.files_pruned_ratio" ->
        (if (pruned.isEmpty) 0.0 else pruned.sum / pruned.size, "ratio"),
    )
  }
}

object FrontDoor {
  val SeedDocs = 200
  val DocsPerFile = 40
  val DeletesPerFile = 4
  val LookupKeys = 8

  /** The document stream: seeded, and tracking which documents are
    * live so every check has an independent expectation. */
  final class Gen(seed: Long, vocab: Vector[String]) {
    private val rnd = new scala.util.Random(Landing.mix(seed, 23L))
    private var nextId = 1L
    val live: mutable.LinkedHashMap[Long, String] = mutable.LinkedHashMap.empty

    /** A text of 50-70 distinct words: no repeated bigram, and long
      * enough that its top bigram stays far below the repetition
      * filter's share limit. */
    private def freshText(): String =
      Iterator.continually {
        val n = 50 + rnd.nextInt(21)
        val ws = mutable.LinkedHashSet.empty[String]
        while (ws.size < n) ws += vocab(rnd.nextInt(vocab.size))
        ws.mkString(" ")
      }.find(clean).get
    private def words(t: String): Seq[String] = t.split(' ').toSeq
    /** Distinct words, and no bigram longer than 1/13 of the text. */
    private def clean(t: String): Boolean = {
      val w = words(t)
      w.distinct.size == w.size &&
        w.sliding(2).map(_.mkString(" ").length).max * 13 <= t.length
    }

    private def id(): Long = { val i = nextId; nextId += 1; i }

    def fresh(n: Int): Seq[(Long, String)] = Seq.fill(n)((id(), freshText()))

    /** One ingest file and the number of its documents that must land:
      * 70% fresh, 10% exact duplicates of live documents, 10% near
      * duplicates (first word replaced), 10% spam. */
    def batch(): (Seq[(Long, String)], Int) = {
      val liveTexts = live.values.toVector
      val docs = (0 until DocsPerFile).map { k =>
        k % 10 match {
          case 7 => (id(), liveTexts(rnd.nextInt(liveTexts.size)), false)
          case 8 =>
            val src = words(liveTexts(rnd.nextInt(liveTexts.size)))
            val near = Iterator.continually(vocab(rnd.nextInt(vocab.size)))
              .map(w => (w +: src.tail).mkString(" ")).find(clean).get
            (id(), near, true)
          case 9 =>
            val pair = s"${vocab(rnd.nextInt(vocab.size))} ${vocab(rnd.nextInt(vocab.size))}"
            (id(), Seq.fill(40)(pair).mkString(" "), false)
          case _ => (id(), freshText(), true)
        }
      }
      docs.filter(_._3).foreach { case (i, t, _) => live(i) = t }
      (docs.map(d => (d._1, d._2)), docs.count(_._3))
    }

    def deletions(n: Int): Seq[Long] = {
      val ids = rnd.shuffle(live.keys.toVector).take(n)
      ids.foreach(live.remove)
      ids
    }

    /** Ids to look up: live ones and a few that were deleted or never
      * existed. */
    def lookupKeys(n: Int): Seq[Long] =
      Seq.fill(n)(1L + rnd.nextInt(nextId.toInt + 10).toLong).distinct
  }
}
