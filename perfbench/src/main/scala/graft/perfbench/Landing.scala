package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Seeded landing-zone generator for the `etl_refresh` workload: the
  * `spotify/{playlists,tracks}/{date}` JSON documents that
  * `graft.etl.Pipeline.run` reads, at a shape the 20-user fixture in
  * `Pipeline.writeLanding` does not have. Where each shape comes from:
  *
  *  - 20 000 users: the fixture's 20 at 1 000 times the scale.
  *  - Library sizes follow Zipf's law by rank (exponent 1): the user at
  *    rank r owns max(1, whale / r) track slots, and the seed decides
  *    which user holds which rank. The top user owns `whale` = 2 000
  *    slots, so a few users hold thousands of tracks and most hold one.
  *    Sizes are a function of rank, so every seed and every day yields
  *    the same number of slots (steady cost per refresh).
  *  - Playlists per user (1 + user % 3, at most one per slot), the
  *    share of tracks with two artists (1/2) and of local tracks (1/7,
  *    null artist id) follow `Pipeline.writeLanding`'s rules (`i % 3`,
  *    `t % 2`, `t % 7 == 6`).
  *  - Each slot draws its track uniformly from the catalog, and each
  *    track its artists, so almost every draw is a new name: the
  *    dimensions grow with the landing, not with the fixture's 40 track
  *    and 15 artist names. The catalogs keep the fixture's 8 : 3 ratio
  *    of track to artist names.
  *  - A slot's content changes every `churnDays` days at a seeded phase,
  *    so consecutive snapshots share about 1 - 1/churnDays of their
  *    slots (95% at the default 20).
  *  - The first `seedUsers` users are the ones `Pipeline.dimUserSeed`
  *    (20 by default) knows, so only their fact rows resolve every key.
  *
  * The generator computes the counts `Pipeline.run` must produce, so the
  * benchmark checks the program against the generator, not against
  * itself.
  */
object Landing {

  final case class Spec(users: Int = 20000, whale: Int = 2000,
                        tracks: Int = 800000, artists: Int = 300000,
                        churnDays: Int = 20, seedUsers: Int = 20)

  /** What one snapshot must load as: fact rows, rows per dimension, and
    * fact rows whose four joined foreign keys all resolve. */
  final case class Expected(trackRows: Long, factRows: Long,
                            dims: Map[String, Long], fkResolved: Long,
                            bytes: Long) {
    def fkRatio: Double = fkResolved.toDouble / factRows
  }

  /** SplitMix64 finalizer: a stateless, well-mixed hash of the inputs,
    * so any slot's content is computable without replaying others. */
  private[perfbench] def mix(xs: Long*): Long = {
    var h = 0x9E3779B97F4A7C15L
    xs.foreach { x =>
      var z = h ^ (x + 0x9E3779B97F4A7C15L)
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      h = z ^ (z >>> 31)
    }
    h
  }

  private def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53)

  private def uniformIndex(h: Long, n: Int): Int = (unit(h) * n).toInt

  /** Library size by user: rank r (a seeded permutation) owns
    * max(1, whale / r) slots. */
  private[perfbench] def librarySizes(seed: Long, spec: Spec): Array[Int] = {
    val rnd = new scala.util.Random(mix(seed, 1L))
    val ranks = rnd.shuffle((1 to spec.users).toVector)
    ranks.map(r => math.max(1, spec.whale / r)).toArray
  }

  private def trackName(t: Int): String = s"Track $t"
  private def isLocal(t: Int): Boolean = Math.floorMod(mix(7L, t), 7L) == 0
  private def trackArtists(seed: Long, t: Int, spec: Spec): Seq[Int] = {
    val h = mix(seed, 3L, t)
    val first = uniformIndex(h, spec.artists)
    if (Math.floorMod(h, 2L) == 0)
      Seq(first, uniformIndex(mix(h, 1L), spec.artists)).distinct
    else Seq(first)
  }

  /** Write the snapshot for `day` under `landingDir` (date directory
    * `date`) and return what loading it must yield. Same (seed, day,
    * spec) gives byte-identical files. */
  def write(landingDir: String, date: String, seed: Long, day: Int,
            spec: Spec = Spec()): Expected = {
    val sizes = librarySizes(seed, spec)
    val pl = new java.lang.StringBuilder(1 << 20)
    val tr = new java.lang.StringBuilder(1 << 24)
    val grain = new java.util.HashSet[String]()
    val playlists = new java.util.HashSet[String]()
    val artistNames = new java.util.HashSet[String]()
    val trackNames = new java.util.HashSet[String]()
    var trackRows = 0L
    var resolved = 0L
    var u = 0
    while (u < spec.users) {
      val user = f"user_${u + 1}%03d"
      val size = sizes(u)
      val nPl = math.min(size, 1 + u % 3)
      pl.append("{\"spotify_id\":\"").append(user).append("\",\"playlists\":[")
      var p = 0
      while (p < nPl) {
        if (p > 0) pl.append(',')
        pl.append("{\"id\":\"pl_").append(u + 1).append('_').append(p)
          .append("\",\"name\":\"Playlist ").append(p).append("\"}")
        p += 1
      }
      pl.append("]}\n")
      p = 0
      while (p < nPl) {
        val pid = s"pl_${u + 1}_$p"
        playlists.add(pid)
        tr.append("{\"playlist_id\":\"").append(pid).append("\",\"tracks\":[")
        var slot = p
        var first = true
        while (slot < size) {
          val phase = Math.floorMod(mix(seed, 5L, u, slot), spec.churnDays.toLong)
          val version = (day + phase) / spec.churnDays
          val h = mix(seed, 11L, u, slot, version)
          val t = uniformIndex(h, spec.tracks)
          val local = isLocal(t)
          // added_at moves with the slot's version, so a re-drawn slot is
          // a new fact row even when it lands on the same track
          val addedAt = "2025-%02d-%02dT%02d:%02d:%02dZ".format(
            1 + Math.floorMod(h >>> 8, 12L), 1 + Math.floorMod(h >>> 16, 28L),
            Math.floorMod(h >>> 24, 24L), Math.floorMod(h >>> 32, 60L),
            Math.floorMod(version, 60L))
          val arts: Seq[(Option[String], String)] =
            if (local) Seq((None, "Local Artist"))
            else trackArtists(seed, t, spec).map(a => (Some(s"ar_$a"), s"Artist $a"))
          if (!first) tr.append(',')
          first = false
          tr.append("{\"added_at\":\"").append(addedAt)
            .append("\",\"is_local\":").append(local)
            .append(",\"id\":\"tr_").append(t)
            .append("\",\"name\":\"").append(trackName(t))
            .append("\",\"duration_ms\":").append(120000 + Math.floorMod(mix(t), 180000L))
            .append(",\"explicit\":").append(t % 5 == 0)
            .append(",\"album\":{\"id\":\"al_").append(t / 12)
            .append("\",\"name\":\"Album ").append(t / 12)
            .append("\",\"release_date\":\"2020-01-01\",\"total_tracks\":12,")
            .append("\"images\":[{\"url\":\"http://img/").append(t / 12)
            .append("\",\"height\":64,\"width\":64}]},\"artists\":[")
          var ai = 0
          arts.foreach { case (id, name) =>
            if (ai > 0) tr.append(',')
            ai += 1
            tr.append("{\"id\":")
            id match {
              case Some(i) => tr.append('"').append(i).append('"')
              case None => tr.append("null")
            }
            tr.append(",\"name\":\"").append(name).append("\"}")
          }
          tr.append("]}")
          trackRows += 1
          trackNames.add(trackName(t))
          arts.foreach { case (id, name) =>
            if (id.isDefined) artistNames.add(name)
            // fact grain: (playlist, track, artist) + owner, after the
            // pipeline's full-row distinct
            if (grain.add(s"$pid|$addedAt|$local|$t|$name")) {
              if (id.isDefined && u + 1 <= spec.seedUsers) resolved += 1
            }
          }
          slot += nPl
        }
        tr.append("]}\n")
        p += 1
      }
      u += 1
    }
    val pDir = Paths.get(landingDir, "spotify", "playlists", date)
    val tDir = Paths.get(landingDir, "spotify", "tracks", date)
    Files.createDirectories(pDir)
    Files.createDirectories(tDir)
    val pBytes = pl.toString.getBytes(StandardCharsets.UTF_8)
    val tBytes = tr.toString.getBytes(StandardCharsets.UTF_8)
    Files.write(pDir.resolve("part-00000.json"), pBytes)
    Files.write(tDir.resolve("part-00000.json"), tBytes)
    Expected(trackRows, grain.size.toLong,
      Map("dim_playlist" -> playlists.size.toLong,
        "dim_artist" -> artistNames.size.toLong,
        "dim_track" -> trackNames.size.toLong,
        "dim_platform" -> 1L),
      resolved, pBytes.length.toLong + tBytes.length)
  }
}
