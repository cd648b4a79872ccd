package perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

/** The shape of one generated stream. Every field is recorded in the
  * benchmark's spec next to the values measured with it. */
case class StreamProps(
    rateEventsPerS: Double,
    pageEvents: Int,
    readEveryMs: Long,
    readPhaseMs: Long,
    updateShare: Double,
    droppedStatusShare: Double,
    staleShare: Double,
    nullKeyShare: Double,
    junkTsShare: Double,
    iataNullShare: Double,
    airlines: Int,
    airports: Int,
    drainEvents: Int,
    drains: Int) {
  def pageMs: Double = pageEvents * 1000.0 / rateEventsPerS
}

/** One generated event: the JSON the program sees, plus what the
  * generator itself expects the ingest filter to do with it. `sig` is the
  * staged row's signature when the event is kept (see [[Gen.signature]]). */
case class Event(json: String, kind: Gen.Kind, kept: Boolean, key: String,
    sig: String, airline: Int, depAirport: Int, arrAirport: Int)

/** Seeded generator of re-polled flight records in the producer's JSON
  * shape (the Kafka `value` that `FlightStream.parse` consumes).
  *
  * Each event is one of:
  *  - a kept poll: a new flight, or (with probability `updateShare`) the
  *    next step of a flight already sent: active → en-route → landed, with
  *    estimated and actual times filling in;
  *  - a poll whose status is outside the keep list (a new flight
  *    announced as scheduled, or a cancelled/diverted/... re-poll);
  *  - a one-off stale flight (all times 5-9 days before the anchor);
  *  - a one-off record with a null flight_key;
  *  - a one-off record whose four filter timestamps are all unparseable.
  *
  * Every timestamp is rendered in one of the shapes the program's
  * normalizer rewrites. Whether an event is kept, and the values its
  * staged row must carry, come from this file's own model of those
  * shapes ([[Gen.TsShape]]), never from the program.
  *
  * Times are laid out around `anchorSec` (epoch seconds, whole hour):
  * fresh flights within [-6 h, +12 h], stale ones 5-9 days before, so
  * the program's 3-day window decides every event the same way for any
  * run that starts within an hour or two of the anchor. The same seed and
  * anchor give the same events, page for page.
  */
final class Gen(seed: Long, props: StreamProps, anchorSec: Long) {
  import Gen._

  private val rnd = new SplittableRandom(seed)

  private case class Airline(iata: String, icao: String, name: String)
  private case class Airport(iata: String, icao: String, name: String)

  private val airlines: Vector[Airline] = Vector.tabulate(props.airlines) { i =>
    val noIata = rnd.nextDouble() < props.iataNullShare
    Airline(if (noIata) null else code(i, 2, 0), code(i, 3, 7),
      s"Airline $i")
  }
  private val airports: Vector[Airport] = Vector.tabulate(props.airports) { i =>
    val noIata = rnd.nextDouble() < props.iataNullShare
    Airport(if (noIata) null else code(i, 3, 3), "K" + code(i, 3, 11),
      s"Airport $i")
  }

  /** A flight that may be re-polled. `step` is the next kept status step. */
  private final class Flight(val key: String, val date: String,
      val airline: Int, val number: Int, val dep: Int, val arr: Int,
      val depSched: Long, val arrSched: Long, var step: Int)

  private val pool = mutable.ArrayBuffer.empty[Flight]
  private var serial = 0L
  private var seq = 0L
  private val ingestBase = anchorSec - 2 * Day

  /** Events generated so far, by kind, and how many re-polled a flight
    * already sent. */
  val byKind: mutable.Map[Kind, Long] = mutable.Map.empty.withDefaultValue(0L)
  var updates = 0L

  def page(n: Int): Array[Event] = Array.fill(n)(next())

  def next(): Event = {
    seq += 1
    val u = rnd.nextDouble()
    val p = props
    val e =
      if (u < p.nullKeyShare) oneOff(NullKey)
      else if (u < p.nullKeyShare + p.staleShare) oneOff(Stale)
      else if (u < p.nullKeyShare + p.staleShare + p.junkTsShare) oneOff(JunkTs)
      else if (u < p.nullKeyShare + p.staleShare + p.junkTsShare +
          p.droppedStatusShare) poll(kept = false)
      else poll(kept = true)
    byKind(e.kind) += 1
    e
  }

  private def newFlight(fresh: Boolean): Flight = {
    serial += 1
    val base = if (fresh) anchorSec - 6 * Hour + rnd.nextLong(18 * Hour)
      else anchorSec - 9 * Day + rnd.nextLong(4 * Day)
    val dep = rnd.nextInt(airports.size)
    var arr = rnd.nextInt(airports.size)
    if (arr == dep) arr = (arr + 1) % airports.size
    val al = rnd.nextInt(airlines.size)
    val date = DateFmt.format(LocalDateTime.ofEpochSecond(base, 0, ZoneOffset.UTC))
    val a = airlines(al)
    val key = f"${Option(a.iata).getOrElse(a.icao)}$serial%06d_$date"
    new Flight(key, date, al, serial.toInt % 10000, dep, arr, base,
      base + 3600 + rnd.nextLong(6 * Hour), 0)
  }

  /** Index in `pool` of the flight to poll: an existing one with
    * probability `updateShare`, else a new one. */
  private def pickOrCreate(): Int =
    if (pool.nonEmpty && rnd.nextDouble() < props.updateShare) {
      updates += 1
      rnd.nextInt(pool.size)
    } else { pool += newFlight(fresh = true); pool.size - 1 }

  private def poll(kept: Boolean): Event = {
    val i = pickOrCreate()
    val f = pool(i)
    if (kept) {
      val step = f.step
      f.step += 1
      if (f.step >= KeptSteps.size) { // landed: never polled again
        pool(i) = pool.last
        pool.remove(pool.size - 1)
      }
      render(f, KeptSteps(step)(rnd.nextInt(KeptSteps(step).size)), step,
        Kept, keyNull = false, junkAll = false)
    } else {
      val status = if (f.step == 0) "scheduled"
        else DroppedStatuses(rnd.nextInt(DroppedStatuses.size))
      render(f, status, math.max(f.step - 1, 0), DroppedStatus,
        keyNull = false, junkAll = false)
    }
  }

  private def oneOff(kind: Kind): Event = {
    val f = newFlight(fresh = kind != Stale)
    render(f, KeptSteps(0)(0), 0, kind, keyNull = kind == NullKey,
      junkAll = kind == JunkTs)
  }

  /** Renders a flight at a lifecycle step: step 0 has departed (actual
    * departure), step 1 adds an arrival estimate, step 2 has landed. */
  private def render(f: Flight, status: String, step: Int, kind: Kind,
      keyNull: Boolean, junkAll: Boolean): Event = {
    val delay = rnd.nextInt(40) - 5
    val depAct =
      if (kind != DroppedStatus) Some(f.depSched + delay * 60L) else None
    val arrEst = if (step >= 1) Some(f.arrSched + delay * 60L) else None
    val arrAct = if (step >= 2) Some(f.arrSched + (delay + 3) * 60L) else None
    def ts(t: Option[Long], filterField: Boolean): (String, Option[Long]) = t match {
      case None => (null, None)
      case Some(v) =>
        val shape =
          if (junkAll && filterField) (if (rnd.nextBoolean()) Junk else LongFraction)
          else if (!filterField && rnd.nextDouble() < 0.05) Junk
          else Parseable(rnd.nextInt(Parseable.size))
        shape.render(v, rnd)
    }
    val (dSched, dSchedE) = ts(Some(f.depSched), filterField = true)
    val (dEst, dEstE) = ts(Some(f.depSched + delay * 60L), filterField = false)
    val (dAct, dActE) = ts(depAct, filterField = true)
    val (aSched, aSchedE) = ts(Some(f.arrSched), filterField = true)
    val (aEst, aEstE) = ts(arrEst, filterField = false)
    val (aAct, aActE) = ts(arrAct, filterField = true)
    val ingest = ingestBase + seq
    val key = if (keyNull) null else f.key
    val al = airlines(f.airline)
    val dep = airports(f.dep)
    val arr = airports(f.arr)
    val sb = new java.lang.StringBuilder(760)
    sb.append('{')
    field(sb, "flight_key", key).append(',')
    field(sb, "flight_date", f.date).append(',')
    field(sb, "status", status).append(',')
    sb.append("\"airline\":{")
    field(sb, "iata", al.iata).append(',')
    field(sb, "icao", al.icao).append(',')
    field(sb, "name", al.name).append("},")
    sb.append("\"flight\":{")
    field(sb, "number", f.number.toString).append(',')
    field(sb, "iata", if (al.iata == null) null else al.iata + f.number).append(',')
    field(sb, "icao", al.icao + f.number).append("},")
    def endpoint(name: String, ap: Airport, gate: String, sched: String,
        est: String, act: String, delayMin: Int): Unit = {
      sb.append('"').append(name).append("\":{")
      field(sb, "airport", ap.name).append(',')
      field(sb, "iata", ap.iata).append(',')
      field(sb, "icao", ap.icao).append(',')
      field(sb, "gate", gate).append(',')
      field(sb, "terminal", (1 + f.number % 3).toString).append(',')
      field(sb, "schedule", sched).append(',')
      field(sb, "estimated", est).append(',')
      field(sb, "actual", act).append(',')
      sb.append("\"delay_min\":").append(delayMin).append('}')
    }
    endpoint("departure", dep, "A" + (f.number % 40), dSched, dEst, dAct, delay)
    sb.append(',')
    endpoint("arrival", arr, "B" + (f.number % 40), aSched, aEst, aAct, delay)
    sb.append(',')
    field(sb, "ingest_time", Gen.zulu(ingest)).append(',')
    field(sb, "source", "perfbench").append('}')

    val kept = Gen.keeps(status, key, Seq(dSchedE, aSchedE, dActE, aActE),
      anchorSec)
    val sig = if (kept) signature(key, status.toLowerCase, ingest,
      Seq(dSchedE, dEstE, dActE, aSchedE, aEstE, aActE)) else null
    Event(sb.toString, kind, kept, key, sig, f.airline, f.dep, f.arr)
  }

  /** IATA (or, for IATA-less entities, ICAO) codes of airlines/airports,
    * the dims' natural keys. */
  def airlineCodes(i: Int): (String, String) = (airlines(i).iata, airlines(i).icao)
  def airportCodes(i: Int): (String, String) = (airports(i).iata, airports(i).icao)
}

object Gen {
  sealed trait Kind
  case object Kept extends Kind
  case object DroppedStatus extends Kind
  case object Stale extends Kind
  case object NullKey extends Kind
  case object JunkTs extends Kind

  val Hour = 3600L
  val Day = 86400L

  /** The ingest filter's allow-list, as the producer's consumers know it. */
  val KeepStatuses = Set("active", "landed", "arrived", "en-route", "enroute")
  /** Status spellings per kept lifecycle step (case varies on purpose). */
  val KeptSteps: Vector[Vector[String]] = Vector(
    Vector("active", "Active"), Vector("en-route", "enroute", "EN-ROUTE"),
    Vector("landed", "arrived", "Landed"))
  val DroppedStatuses = Vector("cancelled", "diverted", "incident", "unknown")

  private val DateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd")
  private val SecFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val MinFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm")

  private def local(t: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(t, 0, ZoneOffset.UTC)
  def zulu(t: Long): String = SecFmt.format(local(t)) + "Z"

  /** A timestamp rendering and the instant a correct normalizer must
    * parse it to (None: must parse to NULL). */
  sealed abstract class TsShape(val name: String) {
    def render(t: Long, rnd: SplittableRandom): (String, Option[Long])
  }
  case object Zulu extends TsShape("Z") {
    def render(t: Long, rnd: SplittableRandom) = (zulu(t), Some(t))
  }
  case object ColonZone extends TsShape("+HH:MM") {
    def render(t: Long, rnd: SplittableRandom) =
      (SecFmt.format(local(t)) + "+00:00", Some(t))
  }
  case object CompactZone extends TsShape("+HHMM") {
    private val offsets = Vector(0, 330, -180) // minutes east of UTC
    def render(t: Long, rnd: SplittableRandom) = {
      val m = offsets(rnd.nextInt(offsets.size))
      val sign = if (m < 0) "-" else "+"
      val a = math.abs(m)
      (SecFmt.format(local(t + m * 60L)) + f"$sign${a / 60}%02d${a % 60}%02d",
        Some(t))
    }
  }
  case object LongFraction extends TsShape("fraction") {
    def render(t: Long, rnd: SplittableRandom) =
      (SecFmt.format(local(t)) + f".${rnd.nextInt(1000000)}%06dZ", None)
  }
  case object OneDigitSeconds extends TsShape("1-digit seconds") {
    def render(t: Long, rnd: SplittableRandom) = {
      val s = Math.floorMod(t, 60L)
      val t1 = t - s + s % 10
      (MinFmt.format(local(t1)) + ":" + (s % 10) + "Z", Some(t1))
    }
  }
  case object ThreeDigitSeconds extends TsShape("3-digit seconds") {
    def render(t: Long, rnd: SplittableRandom) =
      (SecFmt.format(local(t)) + rnd.nextInt(10) + "Z", Some(t))
  }
  case object NoSeconds extends TsShape("no seconds") {
    def render(t: Long, rnd: SplittableRandom) = {
      val t1 = t - Math.floorMod(t, 60L)
      (MinFmt.format(local(t1)) + "Z", Some(t1))
    }
  }
  case object NoZone extends TsShape("no zone") {
    def render(t: Long, rnd: SplittableRandom) = (SecFmt.format(local(t)), Some(t))
  }
  case object Junk extends TsShape("junk") {
    private val junk = Vector("N/A", "", "yesterday", "17/10/2026 10:20",
      "2026-13-45T99:99:99Z")
    def render(t: Long, rnd: SplittableRandom) = (junk(rnd.nextInt(junk.size)), None)
  }
  val Parseable: Vector[TsShape] = Vector(Zulu, ColonZone, CompactZone,
    OneDigitSeconds, ThreeDigitSeconds, NoSeconds, NoZone)

  /** The filter's decision, from the generator's side: allowed status,
    * non-null key, and at least one of the four filter timestamps parses
    * to an instant within 3 days. Fresh and stale times sit days away
    * from that edge, so the anchor stands in for the program's clock. */
  def keeps(status: String, key: String, filterTs: Seq[Option[Long]],
      anchorSec: Long): Boolean =
    status != null && KeepStatuses(status.toLowerCase) && key != null &&
      filterTs.exists(_.exists(_ >= anchorSec - 3 * Day))

  /** Staged-row signature: key, lower-cased status, ingest second, then
    * the six normalized timestamps in (dep sched, est, act, arr sched,
    * est, act) order, each as epoch seconds or `null`. */
  def signature(key: String, status: String, ingest: Long,
      ts: Seq[Option[Long]]): String =
    (Seq(key, status, ingest.toString) ++
      ts.map(_.fold("null")(_.toString))).mkString("|")

  private def field(sb: java.lang.StringBuilder, name: String,
      v: String): java.lang.StringBuilder = {
    sb.append('"').append(name).append("\":")
    if (v == null) sb.append("null") else sb.append('"').append(v).append('"')
  }

  /** Deterministic distinct codes: entity index `i` in base 26. */
  private def code(i: Int, len: Int, salt: Int): String = {
    val sb = new StringBuilder
    var x = i * 7919 + salt
    for (_ <- 0 until len) { sb.append(('A' + x % 26).toChar); x /= 26 }
    sb.toString
  }
}
