package perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.{Base64, SplittableRandom}

import scala.collection.mutable

/** Seeded raw GA traffic for the `ga_daily` and `ga_sessionize`
  * workloads: one file of Firehose records per day (`{"recordId",
  * "data"}`, `data` the base64 JSON envelope with a Measurement-Protocol
  * query-string body), an IP-range geo dimension, and the exact row
  * counts the six export tables (and the sessionized hits) must have for
  * each day.
  *
  * Why each input property is there:
  *  - hit mix (pageview, plain events, purchase events with 1-3 product
  *    slots, transactions, items, timing hits): every one of the six
  *    tables gets rows, and the timing/adtiming drop inside
  *    sessionization is exercised;
  *  - skewed hits per visitor (a Pareto tail up to a few hundred hits):
  *    the one shuffle by visitor id sees uneven partitions, as real
  *    traffic does;
  *  - 1-3 sessions per visitor separated by 40+ minute gaps, hits
  *    inside a session 2-90 s apart, all inside the UTC day: session
  *    boundaries are unambiguous, so the session count is exact;
  *  - returning visitors (about a third of each day's visitors were
  *    seen on an earlier day): the touchpoint stage reads non-empty
  *    history;
  *  - bots and a spread of user-agent families (desktop, mobile,
  *    in-app webview, TV, HTTP tools): the classifier's cascade runs
  *    deep, and bots skip the geo lookup;
  *  - IPv4 inside the geo ranges, IPv4 outside them, and IPv6: geo hits
  *    and both kinds of miss;
  *  - about 0.5% malformed records (bad base64, or base64 of broken
  *    JSON): the ingest decode path that drops them is exercised.
  *
  * Session starts are always pageviews, so a timing hit never absorbs a
  * session start and the expected counts stay exact.
  */
object GaGen {

  /** Exact per-day counts the pipeline must reproduce. */
  final case class Day(date: String, records: Long, malformed: Long,
                       bots: Long, hits: Long, timings: Long, sessions: Long,
                       pageviews: Long, events: Long, products: Long,
                       transactions: Long, items: Long) {
    def tables: Map[String, Long] = Map("sessions" -> sessions,
      "pageviews" -> pageviews, "events" -> events, "products" -> products,
      "transactions" -> transactions, "items" -> items)
  }

  val FirstDay: java.time.LocalDate = java.time.LocalDate.of(2024, 3, 4)

  private val Uas = Seq(
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 16_5 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.5 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (Linux; Android 13; SM-S918B) AppleWebKit/537.36 (KHTML, like Gecko) SamsungBrowser/23.0 Chrome/115.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 10; K; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/119.0.6045.66 Mobile Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 16_5 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) CriOS/114.0.5735.99 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (SMART-TV; Linux; Tizen 6.0) AppleWebKit/537.36 (KHTML, like Gecko) 76.0.3809.146/6.0 TV Safari/537.36",
    "Mozilla/5.0 (iPad; CPU OS 16_5 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.5 Mobile/15E148 Safari/604.1",
    "python-requests/2.31.0")
  private val BotUas = Seq(
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
    "Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)",
    "facebookexternalhit/1.1 (+http://www.facebook.com/externalhit_uatext.php)")
  private val Pages = Seq("/", "/de/start.html", "/shop/shoes", "/shop/shoes/running",
    "/shop/bags", "/cart", "/checkout/step1", "/blog/2024/spring", "/help/faq", "/search")
  private val Landing = Seq("", "?utm_source=nl_13&utm_medium=email&utm_campaign=spring",
    "?gclid=abc123", "?utm_source=partner&utm_medium=referral", "")
  private val Referrers = Seq("", "", "https://www.google.com/", "https://www.bing.com/",
    "https://news.example.org/story", "android-app://com.google.android.gm")

  /** Geo dimension: 200 /24 ranges in 20.0.0.0/8-ish space; half of the
    * IPv4 visitors fall inside one. */
  val GeoRanges: Int = 200
  private val Cities = Seq(
    ("Europe", "EU", "Austria", "AT", "Vienna", "Vienna", "2761369", "1010", 48.2082, 16.3738, "Europe/Vienna"),
    ("Europe", "EU", "Germany", "DE", "Berlin", "Berlin", "2950159", "10115", 52.5244, 13.4105, "Europe/Berlin"),
    ("Europe", "EU", "France", "FR", "Ile-de-France", "Paris", "2988507", "75001", 48.8534, 2.3488, "Europe/Paris"),
    ("North America", "NA", "United States", "US", "New York", "New York", "5128581", "10001", 40.7143, -74.006, "America/New_York"),
    ("Asia", "AS", "Japan", "JP", "Tokyo", "Tokyo", "1850147", "100-0001", 35.6895, 139.6917, "Asia/Tokyo"))

  private def rangeStart(i: Int): (Int, Int) = (20 + i / 100, i % 100 * 2)

  def geoCsv: String = {
    val sb = new StringBuilder("start_ip,end_ip,continent,continent_code,country," +
      "country_iso,region,city,city_id,postal_code,latitude,longitude,timezone\n")
    (0 until GeoRanges).foreach { i =>
      val (a, b) = rangeStart(i)
      val c = Cities(i % Cities.size)
      sb ++= s"$a.$b.7.0,$a.$b.7.255,${c._1},${c._2},${c._3},${c._4},${c._5}," +
        s"${c._6},${c._7},${c._8},${c._9},${c._10},${c._11}\n"
    }
    sb.toString
  }

  private final case class Visitor(cid: String, ua: String, bot: Boolean, ip: String)

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  /** Writes `days` days of raw records under `dir/raw/<date>/` and the
    * geo ranges to `dir/geo.csv`; returns the expected counts per day. */
  def write(dir: Path, seed: Long, days: Int, hitsPerDay: Int): Seq[Day] = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("geo.csv"), geoCsv)
    val pool = mutable.ArrayBuffer.empty[Visitor]
    val popRng = new SplittableRandom(seed)
    def newVisitor(): Visitor = {
      val n = pool.size
      val r = popRng
      val bot = r.nextInt(100) < 5
      val ua = if (bot) BotUas(r.nextInt(BotUas.size)) else Uas(r.nextInt(Uas.size))
      val kind = r.nextInt(100)
      val ip =
        if (kind < 50) { val (a, b) = rangeStart(r.nextInt(GeoRanges)); s"$a.$b.7.${r.nextInt(256)}" }
        else if (kind < 85) s"${100 + r.nextInt(100)}.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
        else f"2001:db8:${r.nextInt(65536)}%x:${r.nextInt(65536)}%x::${r.nextInt(65536)}%x"
      val v = Visitor(s"${1000000000L + seed % 1000 * 1000000 + n}.${1700000000 + n}", ua, bot, ip)
      pool += v
      v
    }
    (0 until days).map { d =>
      val date = FirstDay.plusDays(d.toLong)
      val dayStartMs = date.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
      val rng = new SplittableRandom(seed * 1000003L + d)
      val lines = new StringBuilder
      var records, malformed, bots, hits, timings, sessions = 0L
      var pageviews, events, products, transactions, items = 0L
      var msg = 0L
      def emit(v: Visitor, ts: Long, body: String): Unit = {
        val id = f"d$d%02d-m$msg%08d"; msg += 1
        val env = Json.obj(Seq("system_source" -> "ga", "system_version" -> "1",
          "message_id" -> id, "trace_id" -> s"Root=1-$id",
          "received_at_apig" -> ts.toString, "ip" -> v.ip,
          "user_agent" -> v.ua, "body" -> body))
        val data = Base64.getEncoder.encodeToString(env.getBytes(UTF_8))
        lines ++= Json.obj(Seq("recordId" -> id, "data" -> data)) += '\n'
        records += 1; hits += 1
        if (v.bot) bots += 1
      }
      // a visitor appears at most once a day, so its sessions never interleave
      val seenToday = mutable.HashSet.empty[String]
      val returningShare = if (pool.isEmpty) 0 else 33
      var dayHits = 0
      while (dayHits < hitsPerDay) {
        val back = if (rng.nextInt(100) < returningShare) Some(pool(rng.nextInt(pool.size))) else None
        val v = back.filterNot(x => seenToday(x.cid)).getOrElse(newVisitor())
        seenToday += v.cid
        // Pareto-tailed hits per visitor: most visitors 1-5 hits, a few hundreds
        val visitorHits = math.min(400, (2.0 / math.pow(1.0 - rng.nextDouble(), 0.8)).toInt)
        val nSessions = 1 + rng.nextInt(3)
        var t = dayStartMs + 60000L + rng.nextLong(8L * 3600000L)
        val dayEnd = dayStartMs + 86400000L - 120000L
        var s = 0
        var left = visitorHits
        while (s < nSessions && left > 0 && t < dayEnd - 3600000L) {
          val inSession = if (s == nSessions - 1) left else math.max(1, left / (nSessions - s))
          var h = 0
          val base = "v=1&tid=UA-5905146-1&cid=" + enc(v.cid)
          val page0 = Pages(rng.nextInt(Pages.size))
          val landing = "https://shop.example" + page0 + Landing(rng.nextInt(Landing.size))
          val ref = Referrers(rng.nextInt(Referrers.size))
          while (h < inSession && t < dayEnd) {
            val body = if (h == 0) {
              pageviews += 1
              s"$base&t=pageview&dl=${enc(landing)}" +
                (if (ref.nonEmpty) s"&dr=${enc(ref)}" else "") + "&ul=de-at&sr=1920x1080&dt=Start"
            } else {
              val k = rng.nextInt(100)
              if (k < 55) {
                pageviews += 1
                s"$base&t=pageview&dl=${enc("https://shop.example" + Pages(rng.nextInt(Pages.size)))}&dt=Page"
              } else if (k < 70) {
                events += 1
                s"$base&t=event&ec=video&ea=play&el=clip${rng.nextInt(20)}&ev=${rng.nextInt(100)}"
              } else if (k < 78) {
                val n = 1 + rng.nextInt(3)
                products += n
                val slots = (1 to n).map { i =>
                  s"&pr${i}id=SKU${rng.nextInt(500)}&pr${i}nm=Item${rng.nextInt(500)}" +
                    s"&pr${i}br=Brand${rng.nextInt(9)}&pr${i}ca=shoes&pr${i}pr=${1 + rng.nextInt(200)}.99" +
                    s"&pr${i}qt=${1 + rng.nextInt(3)}"
                }.mkString
                s"$base&t=event&ec=ecommerce&ea=purchase&pa=purchase&ti=T$d-$msg" +
                  s"&tr=${10 + rng.nextInt(500)}.50&cu=EUR$slots"
              } else if (k < 81) {
                transactions += 1
                s"$base&t=transaction&ti=T$d-$msg&tr=${10 + rng.nextInt(500)}.50&ts=4.90&tt=1.20&cu=EUR"
              } else if (k < 85) {
                items += 1
                s"$base&t=item&ti=T$d-$msg&in=Item${rng.nextInt(500)}&ip=${1 + rng.nextInt(99)}.99" +
                  s"&iq=${1 + rng.nextInt(3)}&ic=SKU${rng.nextInt(500)}&iv=shoes&cu=EUR"
              } else {
                timings += 1
                if (k < 93) s"$base&t=timing&utc=load&utv=dom&utt=${rng.nextInt(5000)}"
                else s"$base&t=timing&utc=resource&utv=img&utt=${rng.nextInt(900)}"
              }
            }
            emit(v, t, body)
            h += 1; dayHits += 1; left -= 1
            t += 2000L + rng.nextLong(88000L)
          }
          sessions += 1
          s += 1
          t += 40L * 60000L + rng.nextLong(140L * 60000L)
        }
      }
      // malformed records: broken base64, or base64 of broken JSON
      val nBad = math.max(1, hitsPerDay / 200)
      (0 until nBad).foreach { i =>
        val id = s"d$d-bad$i"
        val data = if (i % 2 == 0) "%%not-base64%%"
          else Base64.getEncoder.encodeToString(s"""{"message_id":"$id","body":""".getBytes(UTF_8))
        lines ++= Json.obj(Seq("recordId" -> id, "data" -> data)) += '\n'
        records += 1; malformed += 1
      }
      val dayDir = dir.resolve("raw").resolve(date.toString)
      Files.createDirectories(dayDir)
      Files.writeString(dayDir.resolve("part-00000.json"), lines)
      Day(date.toString, records, malformed, bots, hits, timings, sessions,
        pageviews, events, products, transactions, items)
    }
  }
}
