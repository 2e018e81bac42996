package benchmark

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicLong

/** Seeded, reference-shaped inputs for the pipeline workloads
  * (FIXTURES.md A1/A2 shapes, scaled to 22 regions x 200 entries):
  *  - an episode pool whose `/v1/episodes` objects carry the full nested
  *    `show`, with names equal to the names the charts print;
  *  - one A1 chart array per (region, date), drawn from the pool with a
  *    popularity skew, so charted ids repeat across regions and days.
  * Everything is a pure function of the seed (and of the date/region). */
final class Inputs(seed: Long) {
  import Inputs._

  private def rng(parts: Long*): java.util.SplittableRandom =
    new java.util.SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)(_ * 31 + _))

  private def token(r: java.util.SplittableRandom, n: Int): String =
    Iterator.fill(n)(Alnum.charAt(r.nextInt(Alnum.length))).mkString

  private def words(r: java.util.SplittableRandom, n: Int): String =
    Iterator.fill(n)(Words(r.nextInt(Words.length))).mkString(" ")

  final case class Episode(id: String, showId: String, name: String, json: String)

  val pool: IndexedSeq[Episode] = {
    val r = rng(1)
    val shows = IndexedSeq.fill(PoolSize / 6)(token(r, 22))
    (0 until PoolSize).map { i =>
      val showIdx = r.nextInt(shows.size)
      val showId = shows(showIdx)
      val id = token(r, 22)
      val name = s"${words(r, 3).capitalize} #$i"
      val lang = Langs(r.nextInt(Langs.length))
      val (release, precision) = r.nextInt(3) match {
        case 0 => (f"20${18 + r.nextInt(7)}%02d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d", "day")
        case 1 => (f"20${18 + r.nextInt(7)}%02d-${1 + r.nextInt(12)}%02d", "month")
        case _ => (s"20${18 + r.nextInt(7)}", "year")
      }
      val explicit = r.nextInt(5) == 0
      val showName = s"Show ${words(r, 2)} $showIdx"
      val desc = words(r, 12)
      val json =
        s"""{"id":"$id","name":"$name","description":"$desc",""" +
          s""""duration_ms":${60000 + r.nextInt(7200000)},"explicit":$explicit,""" +
          s""""is_externally_hosted":${r.nextInt(10) == 0},"is_playable":true,""" +
          s""""language":"$lang","languages":["$lang"],"release_date":"$release",""" +
          s""""release_date_precision":"$precision","show":{"name":"$showName",""" +
          s""""description":"${words(r, 8)}","publisher":"Publisher ${showIdx % 40}",""" +
          s""""copyrights":[{"text":"(C) $showName","type":"C"}],"explicit":$explicit,""" +
          s""""href":"https://api.spotify.com/v1/shows/$showId",""" +
          s""""html_description":"<p>${words(r, 8)}</p>","is_externally_hosted":false,""" +
          s""""languages":["$lang"],"media_type":"audio","total_episodes":${1 + r.nextInt(900)},""" +
          s""""type":"show","uri":"spotify:show:$showId"}}"""
      Episode(id, showId, name, json)
    }
  }

  /** The chart entries of one (region, date): pool indexes in rank order.
    * u^2 skews draws to the head of the pool, the way a few hit episodes
    * chart in most regions. */
  def chartIndexes(date: LocalDate, region: Int): IndexedSeq[Int] = {
    val r = rng(2, date.toEpochDay, region.toLong)
    val picked = new java.util.LinkedHashSet[Int]()
    while (picked.size < EntriesPerChart) {
      val u = r.nextDouble()
      picked.add((u * u * PoolSize).toInt)
    }
    scala.jdk.CollectionConverters.SetHasAsScala(picked).asScala.toIndexedSeq
  }

  /** A1 chart payload: the chart API's JSON array for one region/date. */
  def chartPayload(date: LocalDate, region: Int): String = {
    val r = rng(3, date.toEpochDay, region.toLong)
    chartIndexes(date, region).map { i =>
      val e = pool(i)
      // a few URIs arrive already stripped, as in the reference feed
      val uri = if (r.nextInt(20) == 0) e.id else s"spotify:episode:${e.id}"
      val move = Moves(r.nextInt(Moves.length))
      s"""{"episodeUri":"$uri","showUri":"spotify:show:${e.showId}",""" +
        s""""episodeName":"${e.name}","chartRankMove":"$move"}"""
    }.mkString("[", ",\n", "]")
  }

  /** Land one date's 22 chart files (`chart_<region>_<date>.json`) in
    * `dir`, the podchart source's input layout. */
  def land(dir: Path, date: LocalDate): Unit = {
    Files.createDirectories(dir)
    Regions.indices.foreach { r =>
      Files.write(dir.resolve(s"chart_${Regions(r)}_$date.json"),
        chartPayload(date, r).getBytes(UTF_8))
    }
  }

  /** Distinct episode ids charted on one date. */
  def distinctIds(date: LocalDate): Int =
    Regions.indices.flatMap(chartIndexes(date, _)).distinct.size

  def install(): Unit = EpisodeService.pool = pool.map(e => e.id -> e.json).toMap
}

object Inputs {
  val Regions: IndexedSeq[String] = IndexedSeq("us", "gb", "de", "fr", "es", "it", "nl",
    "se", "no", "dk", "fi", "ie", "at", "ch", "pl", "br", "mx", "ar", "ca", "au", "nz", "jp")
  val EntriesPerChart = 200
  val PoolSize = 3000
  val RowsPerDate: Long = Regions.size.toLong * EntriesPerChart
  private val Alnum = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
  private val Words = IndexedSeq("morning", "news", "daily", "crime", "true", "hour", "tech",
    "talk", "weekly", "history", "science", "comedy", "story", "money", "sports", "health",
    "music", "culture", "world", "politics", "football", "mystery", "kids", "business")
  private val Langs = IndexedSeq("en", "en-US", "en-GB", "de", "es", "fr", "pt-BR", "ja")
  private val Moves = IndexedSeq("UP", "DOWN", "NEW", "SAME")
}

/** The in-process `/v1/episodes` stand-in handed to
  * `BatchedLookup.fetchPayloads`: answers a batch of ids with the
  * response envelope, an unknown id with `null` (as the API does), and
  * counts calls, ids and time spent. A static object, so the closure
  * Spark ships to its (in-process) executors carries no state. */
object EpisodeService {
  @volatile var pool: Map[String, String] = Map.empty
  val calls, ids, nanos = new AtomicLong()

  def lookup(batch: Seq[String]): String = {
    val t0 = System.nanoTime()
    val body = batch.map(id => pool.getOrElse(id, "null")).mkString("""{"episodes":[""", ",", "]}")
    calls.incrementAndGet()
    ids.addAndGet(batch.size.toLong)
    nanos.addAndGet(System.nanoTime() - t0)
    body
  }

  def reset(): Unit = { calls.set(0); ids.set(0); nanos.set(0) }
}
