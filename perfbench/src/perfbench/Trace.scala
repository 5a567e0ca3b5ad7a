package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark work attributed to one tag: the jobs, stages and tasks a
  * tagged block of benchmark code caused.
  */
final class SparkWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  /** Slowest task over the median task, 1.0 for a single task. */
  def taskSkew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      val med = math.max(s(s.size / 2), 1L).toDouble
      s.last.toDouble / med
    }
}

/** Listener that sums job, stage and task metrics per tag. The tag is
  * the `perfbench.tag` local property of the thread that submitted the
  * job, so concurrent client threads are kept apart.
  */
final class TagListener extends SparkListener {
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val work = new ConcurrentHashMap[String, SparkWork]()
  private val latches = new ConcurrentHashMap[String, CountDownLatch]()
  val totalJobs = new AtomicLong()
  val totalTasks = new AtomicLong()

  private def of(tag: String): SparkWork = work.computeIfAbsent(tag, _ => new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagListener.Key)))
    if (!tag.exists(_.startsWith(TagListener.SentinelPrefix))) totalJobs.incrementAndGet()
    tag.foreach { t =>
      e.stageIds.foreach(id => stageTag.put(id, t))
      val w = of(t)
      w.synchronized(w.jobs += 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageTag.get(info.stageId)).foreach { t =>
      val w = of(t)
      val m = info.taskMetrics
      w.synchronized {
        w.stages += 1
        w.tasks += info.numTasks
        if (m != null) {
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          w.inputBytes += m.inputMetrics.bytesRead
          w.inputRecords += m.inputMetrics.recordsRead
        }
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    totalTasks.incrementAndGet()
    Option(stageTag.get(e.stageId)).foreach { t =>
      if (t.startsWith(TagListener.SentinelPrefix)) {
        Option(latches.get(t)).foreach(_.countDown())
      } else {
        val w = of(t)
        w.synchronized(w.taskMs += e.taskInfo.duration)
      }
    }
  }

  /** Removes and returns what `tag` caused. Call [[TagListener.drain]]
    * first so that every event of the tagged work has been delivered.
    */
  def take(tag: String): SparkWork = Option(work.remove(tag)).getOrElse(new SparkWork)

  private[perfbench] def expect(sentinel: String): CountDownLatch = {
    val l = new CountDownLatch(1)
    latches.put(sentinel, l)
    l
  }

  private[perfbench] def forget(sentinel: String): Unit = {
    latches.remove(sentinel)
    work.remove(sentinel)
  }
}

object TagListener {
  val Key = "perfbench.tag"
  val SentinelPrefix = "sentinel-"
  private val sentinels = new AtomicInteger()

  def install(sc: SparkContext): TagListener = {
    val l = new TagListener
    sc.addSparkListener(l)
    l
  }

  /** Runs `body` with its Spark jobs tagged `tag` (this thread only). */
  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    val old = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try body finally sc.setLocalProperty(Key, old)
  }

  /** Waits until the listener has seen every event posted before this
    * call: the listener bus delivers in order, so once a tiny sentinel
    * job's task end arrives, all earlier events have too.
    */
  def drain(sc: SparkContext, l: TagListener): Unit = {
    val s = SentinelPrefix + sentinels.incrementAndGet()
    val latch = l.expect(s)
    tagged(sc, s)(sc.parallelize(Seq(1), 1).count())
    latch.await(30, TimeUnit.SECONDS)
    l.forget(s)
  }
}

/** One timed interval of benchmark code. `parent` is -1 for a root span;
  * spans of one batch, request or pass share `group`.
  */
final case class Span(id: Int, parent: Int, name: String, group: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder, written out once at the end of a run. A
  * disabled tracer records nothing and only runs the body.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicInteger()
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = -1 }

  def span[T](name: String, group: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, group, t0, System.nanoTime()))
        current.set(parent)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Per span name: count, total seconds and self seconds, where self
    * time is the span minus the union of its children's intervals.
    */
  def summary: Seq[(String, Int, Double, Double)] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    def covered(s: Span): Long = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var total = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) total += curE - curS
      total
    }
    ss.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, xs) =>
      (n, xs.size, xs.map(_.seconds).sum, xs.map(s => (s.endNs - s.startNs - covered(s)) / 1e9).sum)
    }
  }

  /** Spans as JSON lines (name, ids, group, start and end in ns). */
  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","group":"${s.group}",""")
      sb.append(s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").append('\n')
    }
    summary.foreach { case (n, c, tot, self) =>
      sb.append(s"""{"summary":"$n","count":$c,"total_s":$tot,"self_s":$self}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
