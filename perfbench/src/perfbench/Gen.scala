package perfbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** Seeded, pure functions of (seed, name, time): every value a check
  * needs is recomputed from here, never read back from the program.
  */
final class Closed(seed: Long) {
  private val s = (seed ^ (seed >>> 32)).toInt

  def h(parts: Any*): Int = MurmurHash3.orderedHash(parts, s)

  /** Point value for version 0 (first send) or 1 (re-send). */
  def valueText(name: String, ts: Int, version: Int): String = {
    val x = (h(name, ts, version) & 0x7fffffff) % 1000000
    f"${x / 100}%d.${x % 100}%02d"
  }

  def value(name: String, ts: Int, version: Int): Double = valueText(name, ts, version).toDouble

  /** Whether the point (name, ts) is sent again, with a later `updated`,
    * in the next batch.
    */
  def resent(name: String, ts: Int, share: Double): Boolean =
    (h(name, ts, "resend") & 0x7fffffff) % 10000 < (share * 10000).toInt
}

/** Shape of the generated graphite traffic.
  *
  * Names are `<prefix>.svc<S>.<host>.<metric>` for host slots
  * `[0, slots)`. Host slots below `rotatingSlots` get a fresh host name every batch (host rotation, so
  * their names are new to the tree); the others are stable `host<slot>`.
  * The banned subtree `one_min.banned` keeps sending `bannedLines` lines
  * per batch, half of them under fresh host names.
  */
final case class TrafficShape(
    prefixes: Seq[String],
    services: Int,
    slots: Int,
    rotatingSlots: Int,
    metrics: Seq[String],
    firstBatchMinutes: Int,
    malformedShare: Double,
    resendShare: Double,
    bannedLines: Int)

object TrafficShape {
  val Metrics: Seq[String] = Seq("cpu", "mem", "disk", "load", "net_in", "net_out",
    "latency", "gc_time", "requests_count", "errors_count")

  /** `mixed`: 10k names a batch over two retention prefixes, 40 % of
    * them new each batch. Batch 0 carries the first rolled-up 300 s
    * bucket (five minutes), so readers have a settled bucket to check
    * while later batches land.
    */
  val churn: TrafficShape = TrafficShape(Seq("one_min", "one_sec"), services = 2, slots = 250,
    rotatingSlots = 100, Metrics, firstBatchMinutes = 5, malformedShare = 0.01,
    resendShare = 0.05, bannedLines = 200)
}

/** One generated batch: the raw lines and what a correct program must
  * accept from them.
  */
final case class BatchStats(lines: Int, malformed: Int, resends: Int, bannedSent: Int,
                            distinctNames: Int, newNames: Int, newNodes: Int)

final case class Batch(
    lines: Array[String],
    updated: Int,
    malformed: Int,
    resends: Int,
    bannedSent: Int,
    distinctNames: Int,
    newNames: Int,
    newNodes: Int,
    accepted: Array[(String, Int, Double)]) {
  def acceptedCount: Int = accepted.length
  def stats: BatchStats =
    BatchStats(lines.length, malformed, resends, bannedSent, distinctNames, newNames, newNodes)
}

/** Seeded graphite traffic. Batch 0 carries minutes
  * `[0, firstBatchMinutes)` after `t0`, every later batch the next
  * single minute, plus re-sends of points from batch `b - 1` with
  * `updated` one higher.
  * Batches up to `banAfter` reach the banned subtree before its ban.
  */
final class Traffic(seed: Long, val shape: TrafficShape, val banAfter: Int) {
  val closed = new Closed(seed)
  val t0: Int = 1767225600 // 2026-01-01T00:00:00Z
  val updated0: Int = 1767225600

  def ts(minute: Int): Int = t0 + minute * 60

  def stableHost(slot: Int): String = s"host$slot"
  def rotatingHost(slot: Int, batch: Int): String = s"rot${slot}g$batch"

  def name(prefix: String, svc: Int, host: String, metric: String): String =
    s"$prefix.svc$svc.$host.$metric"

  /** Names sent in batch `b` (banned subtree excluded). */
  def names(b: Int): IndexedSeq[String] = for {
    p <- shape.prefixes.toIndexedSeq
    s <- 0 until shape.services
    slot <- 0 until shape.slots
    m <- shape.metrics
  } yield name(p, s, if (slot < shape.rotatingSlots) rotatingHost(slot, b) else stableHost(slot), m)

  /** Stable names: present in every batch. */
  def stableNames(prefix: String): IndexedSeq[String] = for {
    s <- 0 until shape.services
    slot <- shape.rotatingSlots until shape.slots
    m <- shape.metrics
  } yield name(prefix, s, stableHost(slot), m)

  def bannedNames(b: Int): IndexedSeq[String] = {
    val hosts = shape.bannedLines / shape.metrics.size
    for {
      j <- 0 until hosts
      m <- shape.metrics
    } yield s"one_min.banned.${if (j % 2 == 0) stableHost(j) else rotatingHost(j, b)}.$m"
  }

  def minutes(b: Int): Range =
    if (b == 0) 0 until shape.firstBatchMinutes
    else shape.firstBatchMinutes + b - 1 until shape.firstBatchMinutes + b

  /** The batch that carries `minute`. */
  def batchOf(minute: Int): Int = math.max(0, minute - shape.firstBatchMinutes + 1)

  private def malformedLine(i: Int, b: Int): String = (i % 4) match {
    case 0 => s"one_min.svc0.bad$i.cpu notanumber ${ts(b)}"
    case 1 => s"one_min.svc0.bad$i.cpu 1.0"
    case 2 => s"one_min..svc0.bad$i 1.0 ${ts(b)}"
    case _ => s"one_min.svc0.bad$i.cpu 1.0 -5"
  }

  /** Generates batch `b`. `known` is the set of tree names (with
    * ancestors) accepted so far; it is updated with this batch's.
    */
  def batch(b: Int, known: mutable.Set[String]): Batch = {
    val lines = mutable.ArrayBuffer.empty[String]
    val accepted = mutable.ArrayBuffer.empty[(String, Int, Double)]
    val ns = names(b)
    for (n <- ns; m <- minutes(b)) {
      val t = ts(m)
      lines += s"$n ${closed.valueText(n, t, 0)} $t"
      accepted += ((n, t, closed.value(n, t, 0)))
    }
    var resends = 0
    if (b > 0) for (n <- ns if !n.contains(".rot"); m <- minutes(b - 1)) {
      val t = ts(m)
      if (closed.resent(n, t, shape.resendShare)) {
        lines += s"$n ${closed.valueText(n, t, 1)} $t"
        accepted += ((n, t, closed.value(n, t, 1)))
        resends += 1
      }
    }
    val banned = bannedNames(b)
    val bannedAccepted = b <= banAfter
    for (n <- banned; m <- minutes(b)) {
      val t = ts(m)
      lines += s"$n ${closed.valueText(n, t, 0)} $t"
      if (bannedAccepted) accepted += ((n, t, closed.value(n, t, 0)))
    }
    val valid = lines.size
    val malformed = math.round(valid * shape.malformedShare).toInt
    (0 until malformed).foreach(i => lines += malformedLine(i, b))
    val newLeaves = ns.count(n => !known.contains(n))
    val before = known.size
    val sentNames = if (bannedAccepted) ns ++ banned else ns
    sentNames.foreach(n => Traffic.withAncestors(n).foreach(known += _))
    val lineArr = lines.toArray
    shuffle(lineArr, b)
    Batch(lineArr, updated0 + b, malformed, resends, banned.size * minutes(b).size,
      ns.size + banned.size, newLeaves, known.size - before, accepted.toArray)
  }

  private def shuffle(a: Array[String], b: Int): Unit = {
    val r = new java.util.SplittableRandom(closed.h("shuffle", b).toLong)
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val x = a(i); a(i) = a(j); a(j) = x
      i -= 1
    }
  }

  /** Every value the latest version of (name, ts) may hold, given that
    * batches below `settled` are committed and batches up to `inFlight`
    * may be visible. Empty set = no point; None = not decidable.
    */
  def latest(n: String, minute: Int, settled: Int, inFlight: Int): Option[Set[Double]] = {
    val b = batchOf(minute)
    val t = ts(minute)
    val resent = closed.resent(n, t, shape.resendShare)
    if (b >= settled && b <= inFlight) None
    else if (b > inFlight) Some(Set.empty)
    else if (!resent || b + 1 > inFlight) Some(Set(closed.value(n, t, 0)))
    else if (b + 1 < settled) Some(Set(closed.value(n, t, 1)))
    else None
  }
}

object Traffic {
  /** "a.b.c" → "a.", "a.b.", "a.b.c": the tree rows one name implies. */
  def withAncestors(n: String): Seq[String] = {
    val parts = n.split('.')
    (1 until parts.length).map(i => parts.take(i).mkString(".") + ".") :+ n
  }
}

/** One dashboard request: the patterns of a panel over a time range,
  * read with an explicit `now`.
  */
final case class Request(id: String, fanout: String, patterns: Seq[String],
                         start: Int, end: Int, now: Long, rolled: Boolean, adhoc: Boolean)

/** Seeded dashboard traffic over the stable names of a [[Traffic]].
  * Fan-out mix: exact (10 names), one wildcard level (~100 names), two
  * wildcard levels (~1000 names). Ranges resolve to the raw 60 s step
  * or, read 8 days later, to the rolled-up 300 s step. 75 % of requests
  * repeat a fixed panel set; the rest are unique ad-hoc requests.
  */
final class Dashboard(seed: Long, traffic: Traffic, windowStartMinute: Int, windowMinutes: Int) {
  private val shape = traffic.shape
  private val hosts = shape.rotatingSlots until shape.slots

  private def hostGlob: String = "host1??"

  /** Request kinds in the order each client cycles through them. */
  private val kinds: IndexedSeq[(String, Boolean)] =
    for (rolled <- IndexedSeq(false, true); fan <- IndexedSeq("exact", "one", "two")) yield (fan, rolled)

  private def req(r: java.util.SplittableRandom, id: String, kind: Int, adhoc: Boolean): Request = {
    val (fan, rolled) = kinds(kind % kinds.size)
    val svc = r.nextInt(shape.services)
    val patterns = fan match {
      case "exact" => (0 until 10).map { _ =>
        traffic.name("one_min", svc, traffic.stableHost(hosts(r.nextInt(hosts.size))),
          shape.metrics(r.nextInt(shape.metrics.size)))
      }.distinct
      case "one" => Seq(s"one_min.svc$svc.$hostGlob.${shape.metrics(r.nextInt(shape.metrics.size))}")
      case _ => Seq(s"one_min.svc$svc.$hostGlob.*")
    }
    val span = if (rolled) 60 else 30
    // ranges start inside the window and end on a 5-minute boundary
    val slots = math.max((windowMinutes - span) / 5, 0)
    val endMinute = windowStartMinute + span + 5 * r.nextInt(slots + 1)
    val start = traffic.ts(endMinute - span)
    val end = traffic.ts(endMinute)
    val now = if (rolled) start.toLong + 8 * 86400L else end.toLong + 60
    Request(id, fan, patterns, start, end, now, rolled, adhoc)
  }

  /** Two panels of each kind. */
  val panels: IndexedSeq[Request] = {
    val r = new java.util.SplittableRandom(seed * 31 + 7)
    (0 until 2 * kinds.size).map(i => req(r, s"panel$i", i, adhoc = false))
  }

  /** The request stream of client `client`: kinds in a fixed cycle, so
    * every run sees the same mix; every fourth request is a new ad-hoc
    * one, the others repeat a panel of their kind.
    */
  def stream(client: Int): Iterator[Request] = {
    val r = new java.util.SplittableRandom(seed * 1009 + client)
    Iterator.from(0).map { i =>
      val kind = (i + client * 3) % kinds.size
      if (i % 4 != 3) panels(kind + kinds.size * r.nextInt(2))
      else req(r, s"c$client-adhoc$i", kind, adhoc = true)
    }
  }

  /** Names a pattern must expand to (stable names only). */
  def expand(pattern: String): Seq[String] = {
    val re = pattern.split('.').map { seg =>
      seg.map {
        case '*' => "[^.]*"
        case '?' => "[^.]"
        case c   => java.util.regex.Pattern.quote(c.toString)
      }.mkString
    }.mkString("\\.").r
    traffic.stableNames("one_min").filter(n => re.pattern.matcher(n).matches())
  }
}
