package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Seeded input generators. Every file is a pure function of
  * (seed, stream, index), so the same seed always yields byte-identical
  * inputs whatever order the files are written in.
  */
object Gen {

  private val brands = Array("apple", "samsung", "xiaomi", "huawei", "lenovo",
    "sony", "lg", "asus")
  private val categories = Array("electronics.smartphone",
    "electronics.audio.headphone", "appliances.kitchen.kettle",
    "computers.notebook", "apparel.shoes", "furniture.living_room.sofa")
  private val webTypes = Array("page_view", "click", "add_to_cart", "checkout")
  private val utm = Array("google", "facebook", "email", "direct")

  /** First day of generated event time; 10:00 UTC on it for the replay. */
  val baseDay: LocalDate = LocalDate.of(2024, 3, 4)
  private val baseMs = baseDay.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli

  private val ecommerceTime =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  private val webTime =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS").withZone(ZoneOffset.UTC)

  def rng(seed: Long, stream: Int, idx: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 1000003L + idx)

  /** Skewed user id: the cube of a uniform draw piles mass on low ids. */
  private def skewedUser(r: SplittableRandom, users: Int): Int = {
    val u = r.nextDouble()
    (u * u * u * users).toInt
  }

  /** One producer payload in the reference's eCommerce shape, quirks kept:
    * `" UTC"`-suffixed event_time and a string price.
    */
  def ecommerceLine(r: SplittableRandom, dayIdx: Int, users: Int, id: Long): String = {
    val roll = r.nextInt(100)
    val typ = if (roll < 70) "view" else if (roll < 90) "cart" else "purchase"
    val t = baseMs + dayIdx * 86400000L + r.nextLong(86400000L)
    val cat = if (r.nextInt(10) == 0) "null"
      else "\"" + categories(r.nextInt(categories.length)) + "\""
    val price = f"${1 + r.nextInt(99999) / 100.0}%.2f"
    val user = skewedUser(r, users)
    s"""{"user_id":"u$user","event_type":"$typ","product_id":"p${r.nextInt(5000)}",""" +
      s""""event_time":"${ecommerceTime.format(Instant.ofEpochMilli(t))} UTC",""" +
      s""""category_id":"c${r.nextInt(300)}","category_code":$cat,""" +
      s""""brand":"${brands(r.nextInt(brands.length))}","price":"$price",""" +
      s""""user_session":"s$user-$id"}"""
  }

  /** A JSON-lines file of `rows` eCommerce payloads on day `dayIdx`. */
  def ecommerceFile(seed: Long, stream: Int, idx: Int, rows: Int,
      dayIdx: Int, users: Int): String = {
    val r = rng(seed, stream, idx)
    val sb = new StringBuilder
    var i = 0
    while (i < rows) {
      sb.append(ecommerceLine(r, dayIdx, users, idx.toLong * rows + i)).append('\n')
      i += 1
    }
    sb.toString
  }

  final case class WebEvent(user: String, typ: String, url: String, tsMs: Long,
      utm: Option[String]) {
    def json: String =
      s"""{"user_id":"$user","event_type":"$typ","url":"$url",""" +
        s""""timestamp":"${webTime.format(Instant.ofEpochMilli(tsMs))}"""" +
        utm.fold("")(u => s""","utm_source":"$u"""") + "}"
  }

  /** Replay of A2-shaped web events: `files` slices of event time spanning
    * `hours`, each slice jittered by up to two minutes (bounded
    * out-of-order), plus `lateShare` of events pushed 30-90 minutes back,
    * far past the 10-minute watermark. Timestamps are unique and never
    * whole seconds, so no window end can tie with a watermark.
    * The last file holds one sentinel event an hour past the rest; it
    * moves the watermark beyond every real window so all of them emit.
    */
  def webReplay(seed: Long, files: Int, perFile: Int, hours: Int,
      users: Int, lateShare: Double): IndexedSeq[IndexedSeq[WebEvent]] = {
    val sliceMs = hours * 3600000L / files
    val start = baseMs + 10 * 3600000L
    val used = scala.collection.mutable.HashSet[Long]()
    def unique(t0: Long): Long = {
      var t = t0
      while (t % 1000 == 0 || used.contains(t)) t += 1
      used += t
      t
    }
    val body = (0 until files).map { f =>
      val r = rng(seed, 7, f)
      (0 until perFile).map { _ =>
        val late = f >= 3 && r.nextDouble() < lateShare
        val t = if (late) start + f * sliceMs - 1800000L - r.nextLong(3600000L)
          else start + f * sliceMs + r.nextLong(sliceMs) +
            r.nextLong(240000L) - 120000L
        WebEvent(s"w${skewedUser(r, users)}", webTypes(r.nextInt(webTypes.length)),
          s"/p/${r.nextInt(400)}", unique(t),
          if (r.nextInt(5) == 0) None else Some(utm(r.nextInt(utm.length))))
      }
    }
    body :+ IndexedSeq(WebEvent(Gen.flushUser, "page_view", "/",
      unique(start + hours * 3600000L + 3600000L), None))
  }

  val flushUser = "flush"

  /** Gaps between `n` open-loop arrivals, in ms: exponential with the given
    * mean (a Poisson process), at least 1 ms.
    */
  def arrivalGapsMs(seed: Long, n: Int, meanMs: Long): IndexedSeq[Long] = {
    val r = rng(seed, 3, 0)
    IndexedSeq.fill(n)(math.max(1L, math.round(-meanMs * math.log(1 - r.nextDouble()))))
  }

  /** Atomic publish for a file-source directory: write a dot-file (which the
    * file source ignores) and rename it into place.
    */
  def publish(dir: Path, name: String, text: String, mtimeMs: Long = -1): Path = {
    val tmp = dir.resolve("." + name + ".tmp")
    Files.write(tmp, text.getBytes(StandardCharsets.UTF_8))
    if (mtimeMs > 0) tmp.toFile.setLastModified(mtimeMs)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}
