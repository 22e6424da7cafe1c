package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Shape of one workload's generated behaviour log. */
final case class Shape(
    hours: Int,
    eventsPerHour: Int,
    lateShare: Double) { // share of eligible events delivered in the next hour's file
  def users: Int = Gen.usersFor(eventsPerHour)
}

/** Seeded behaviour-log generator. The same (shape, seed) always gives the
  * same events; the program under test only ever sees the files written
  * here.
  *
  * Events follow the repository's `events` test fixture (the sf0.1
  * `events.parquet` of TESTDATA.md; `perfbench/fixture_shape.py` measures
  * it): each event's user and time are drawn uniformly, and a user has
  * 100,000 / 1,500 / 720 events per hour. A workload keeps that per-user
  * rate and scales the number of users with its volume.
  */
object Gen {
  val T0: Long = Instant.parse("2024-01-15T00:00:00Z").getEpochSecond
  private val TimeFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss 'UTC'").withZone(ZoneOffset.UTC)
  private val Types = Array("view", "view", "view", "view", "cart", "purchase")
  private val FixtureEvents = 100000
  private val FixtureUsers = 1500
  private val FixtureHours = 720

  def usersFor(eventsPerHour: Int): Int =
    math.max(1L, math.round(eventsPerHour.toDouble * FixtureUsers * FixtureHours / FixtureEvents))
      .toInt

  /** Events as parallel arrays; `eventId` is unique and doubles as the
    * behaviour log's `product_id`, the job's tie-break column.
    */
  final class Events(val user: Array[Long], val tsSec: Array[Long],
      val eventId: Array[Long], val fileHour: Array[Int]) {
    def size: Int = user.length
  }

  def hourLabel(h: Int): String =
    TimeFmt.format(Instant.ofEpochSecond(T0 + h * 3600L)).substring(0, 13)

  def generate(shape: Shape, seed: Long): Events = {
    val rnd = new SplittableRandom(seed)
    val n = shape.hours * shape.eventsPerHour
    val span = shape.hours * 3600L
    val user = Array.fill(n)(1L + rnd.nextInt(shape.users))
    val ts = Array.fill(n)(T0 + rnd.nextLong(span))
    val fileHour = Array.tabulate(n) { i =>
      val h = ((ts(i) - T0) / 3600).toInt
      // late delivery only for events in the last 25 minutes of an hour:
      // the next file's watermark (previous max event time - 30 min) is
      // then still below them, so the engine must accept them
      val lateEligible = h + 1 < shape.hours && (ts(i) - T0) % 3600 >= 2100
      if (lateEligible && rnd.nextDouble() < shape.lateShare) h + 1 else h
    }
    new Events(user, ts, Array.tabulate(n)(i => i + 1L), fileHour)
  }

  /** Behaviour log in the monthly-CSV layout `Ingest.run` reads, holding
    * the events of hours [fromHour, toHour).
    */
  def writeBehaviorCsv(ev: Events, path: String, fromHour: Int = 0,
      toHour: Int = Int.MaxValue / 3600): Unit = {
    val (lo, hi) = (T0 + fromHour * 3600L, T0 + toHour * 3600L)
    val w = new BufferedWriter(new FileWriter(path), 1 << 20)
    try {
      w.write("event_time,event_type,product_id,category_id,category_code,brand,price,user_id\n")
      val sb = new java.lang.StringBuilder(128)
      for (i <- 0 until ev.size if ev.tsSec(i) >= lo && ev.tsSec(i) < hi) {
        val id = ev.eventId(i)
        sb.setLength(0)
        sb.append(TimeFmt.format(Instant.ofEpochSecond(ev.tsSec(i)))).append(',')
          .append(Types((id % Types.length).toInt)).append(',')
          .append(id).append(',')
          .append(id % 97).append(",cat.").append(id % 13).append(",brand")
          .append(id % 31).append(',')
          .append((id % 5000) / 10.0).append(',')
          .append(ev.user(i)).append('\n')
        w.write(sb.toString)
      }
    } finally w.close()
  }

  /** Streaming input rows with the hour of the file each is delivered in. */
  def writeStreamCsv(ev: Events, path: String): Unit = {
    val w = new BufferedWriter(new FileWriter(path), 1 << 20)
    try {
      val sb = new java.lang.StringBuilder(64)
      for (i <- 0 until ev.size) {
        sb.setLength(0)
        sb.append(ev.user(i)).append(',').append(ev.tsSec(i)).append(',')
          .append(ev.eventId(i)).append(',').append(ev.fileHour(i)).append('\n')
        w.write(sb.toString)
      }
    } finally w.close()
  }
}
