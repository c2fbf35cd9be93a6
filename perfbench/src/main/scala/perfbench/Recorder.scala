package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-operation Spark counters, attributed from the outside: the traced
  * thread tags its jobs with `perfbench-op-<n>` (SparkContext job tags are
  * inherited by the broadcast and subquery threads a query spawns), and
  * this listener folds every job, stage and task of a tagged job into that
  * operation's [[Counters]]. Jobs are classed by call site: a stage named
  * `…checkpoint at …` marks an eager (local) checkpoint job, a
  * `broadcast-exchange` tag a broadcast build. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var checkpointJobs = 0L
  var broadcastJobs = 0L
  /** Call site of each job, in start order. */
  val callSites = mutable.ArrayBuffer.empty[String]
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    runMs += o.runMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
    checkpointJobs += o.checkpointJobs; broadcastJobs += o.broadcastJobs
    callSites ++= o.callSites
  }
}

final class Recorder(sc: SparkContext) extends SparkListener {
  private val byTag = mutable.HashMap.empty[String, Counters]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val TagPrefix = "perfbench-op-"

  private def tagOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(_.split(",").find(_.startsWith(TagPrefix)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    tagOf(e.properties).foreach { tag =>
      val c = byTag.getOrElseUpdate(tag, new Counters)
      c.jobs += 1
      c.callSites += e.stageInfos.map(_.name).sorted.lastOption.getOrElse("")
      val tags = e.properties.getProperty("spark.job.tags", "")
      val desc = Option(e.properties.getProperty("spark.job.description"))
        .getOrElse("")
      if (tags.contains("broadcast") || desc.contains("broadcast"))
        c.broadcastJobs += 1
      if (e.stageInfos.exists(_.name.toLowerCase.contains("checkpoint at")))
        c.checkpointJobs += 1
      e.stageIds.foreach(stageTag(_) = tag)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageTag.get(e.stageInfo.stageId).foreach { tag =>
        val c = byTag(tag)
        c.stages += 1
        c.tasks += e.stageInfo.numTasks
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.runMs += m.executorRunTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  /** Run `body` with its Spark jobs attributed to a fresh operation tag;
    * returns the result and the operation's counters once the bus drained. */
  def attributed[T](op: Int)(body: => T): (T, Counters) = {
    val tag = TagPrefix + op
    sc.addJobTag(tag)
    val out = try body finally sc.removeJobTag(tag)
    org.apache.spark.PerfbenchBus.drain(sc)
    (out, synchronized(byTag.getOrElse(tag, new Counters)))
  }

  /** Counters of jobs launched under `op` so far (bus drained). */
  def counters(op: Int): Counters = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(byTag.getOrElse(TagPrefix + op, new Counters))
  }
}

/** In-memory span log: name, start, end, parent, request id. Self time is
  * a span's duration minus its direct children's. Written at exit. */
final case class Span(id: Int, name: String, startNs: Long, var endNs: Long,
    parent: Int, request: String)

final class Spans {
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var enabled = true
  var request = ""

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(all.length, name, System.nanoTime(), 0L,
        stack.headOption.getOrElse(-1), request)
      all += s
      stack = s.id :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  def spans: Seq[Span] = all.toSeq

  /** Self time (ns) per span name, over the spans of the given requests. */
  def selfNs(requests: Set[String]): Map[String, Long] = {
    val kids = all.groupBy(_.parent)
    all.filter(s => requests(s.request)).groupMapReduce(_.name) { s =>
      (s.endNs - s.startNs) -
        kids.getOrElse(s.id, Nil).map(k => k.endNs - k.startNs).sum
    }(_ + _)
  }

  def totalNs(name: String, requests: Set[String]): Long =
    all.filter(s => s.name == name && requests(s.request))
      .map(s => s.endNs - s.startNs).sum
}
