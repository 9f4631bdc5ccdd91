package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark runtime counts of one job group. Times are in milliseconds. */
final class Counts {
  var jobs, stages, tasks, singleTaskStages = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var runMs, waitMs = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    singleTaskStages += o.singleTaskStages
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; runMs += o.runMs; waitMs += o.waitMs
  }
}

/** Listener that attributes jobs, stages and tasks to the job group active
  * when each job started. Only groups the [[Tracer]] set are counted, so
  * untraced work costs one property lookup per job.
  *
  * A task's wait is the time from its stage's submission to its launch
  * plus Spark's scheduler delay (task duration not spent deserializing,
  * running or serializing the result).
  */
final class SparkCounter extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, Counts]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]

  private def counts(group: String): Counts = byGroup.getOrElseUpdate(group, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group: String = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group != null && group.startsWith(Tracer.GroupPrefix)) {
      counts(group).jobs += 1
      e.stageInfos.foreach(s => stageGroup(s.stageId) = group)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (stageGroup.contains(e.stageInfo.stageId))
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach { g =>
      val c = counts(g)
      c.stages += 1
      if (e.stageInfo.numTasks == 1) c.singleTaskStages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = counts(g)
      c.tasks += 1
      val info = e.taskInfo
      val queued = stageSubmitted.get(e.stageId).map(s => math.max(0L, info.launchTime - s)).getOrElse(0L)
      val m = e.taskMetrics
      if (m != null) {
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.runMs += m.executorRunTime
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        c.waitMs += queued + math.max(0L, delay)
      } else c.waitMs += queued
    }
  }

  /** Summed counts of the given groups. Call after the listener bus drained. */
  def total(groups: Iterable[String]): Counts = synchronized {
    val sum = new Counts
    groups.foreach(g => byGroup.get(g).foreach(sum.add))
    sum
  }
}

/** One layer call: name, start, end, the span that caused it and the
  * workload operation it belongs to.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def group: String = Tracer.GroupPrefix + id
}

/** Records spans around calls into the program's layers and tags the
  * Spark jobs each call launches with a job group named after its span.
  * Spans stay in memory; [[writeJson]] writes them out when the run ends.
  */
final class Tracer(sc: SparkContext) {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0
  private var nextOp = 0

  /** A fresh operation id: spans of one workload operation share it. */
  def newOp(): Int = { nextOp += 1; nextOp }

  def apply[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      sc.setJobGroup(Tracer.GroupPrefix + id, name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
        stack.headOption match {
          case Some((p, pName)) => sc.setJobGroup(Tracer.GroupPrefix + p, pName)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** A span and every span beneath it. */
  def subtree(root: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).toSeq.flatMap(walk)
    walk(root)
  }

  /** Duration minus the part of it that child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def writeJson(path: java.nio.file.Path, counter: SparkCounter): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      val c = counter.total(Seq(s.group))
      f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}%.6f,""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
}
