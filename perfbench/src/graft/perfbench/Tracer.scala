package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced passes: spans kept in memory and written out by [[finish]].
  *
  * Span sources:
  *  - the benchmark's own calls into each layer, on the driver thread
  *    (`key`, `operators.call`, `action`, `sources.*`), nested by a stack;
  *  - Spark jobs and stages (`exec.job`, `exec.stage`) from a
  *    `SparkListener`, attributed to a key through its job group; a job
  *    span carries its call site: that of its SQL execution (such as
  *    `count at PipelineMain.scala:66`, also for the jobs adaptive
  *    execution submits from its own threads), else its result stage's;
  *  - planning phases (`plans.analysis`, `plans.optimization`,
  *    `plans.planning`) of every query execution, from a
  *    `QueryExecutionListener`, and micro-batches (`stream.batch`) from a
  *    `StreamingQueryListener`, attributed to the key whose span contains
  *    their start.
  *
  * Counts are taken at the same boundaries: task metrics per job group,
  * and per key the deltas of the JVM-wide rule-executor and codegen
  * counters and the storage still held after the key. One `key` record
  * per key execution goes to the records file as the key ends (the
  * listener bus is drained first, so its counts are complete).
  */
final class Tracer(spark: SparkSession, spansPath: Path, rec: Records) {
  import Tracer._

  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Epoch ms with sub-ms resolution, on the clock Spark's events use. */
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private var stack: List[Span] = Nil
  private val counters = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String, String)]()
  private val executionSite = new ConcurrentHashMap[Long, String]()
  private val plans = new ConcurrentHashMap[String, String]()
  private var baseline: Snapshot = _

  private def counts(group: String): Counters =
    counters.computeIfAbsent(group, _ => new Counters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).orNull
      if (group != null) {
        // the SQL execution's call site, else the result stage's (it is
        // created after its parents: the highest id)
        val site = Option(e.properties.getProperty("spark.sql.execution.id"))
          .flatMap(id => Option(executionSite.get(id.toLong)))
          .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).orNull
        jobStart.put(e.jobId, (e.time, group, site))
        e.stageIds.foreach(stageGroup.put(_, group))
        counts(group).jobs.incrementAndGet()
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t, group, site) =>
        spans.add(Span(ids.incrementAndGet(), "exec.job", t.toDouble, e.time.toDouble,
          0L, group, Seq("job" -> e.jobId, "site" -> site)))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => executionSite.put(x.executionId, x.description)
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageGroup.get(info.stageId)).foreach { group =>
        counts(group).stages.incrementAndGet()
        for (s <- info.submissionTime; c <- info.completionTime)
          spans.add(Span(ids.incrementAndGet(), "exec.stage", s.toDouble, c.toDouble,
            0L, group, Seq("stage" -> info.stageId, "tasks" -> info.numTasks)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { group =>
        val c = counts(group)
        c.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          c.runMs.addAndGet(m.executorRunTime)
          c.cpuNs.addAndGet(m.executorCpuTime)
          c.gcMs.addAndGet(m.jvmGCTime)
          c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          c.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
          c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      spans.add(Span(ids.incrementAndGet(), s"plans.$phase", p.startTimeMs.toDouble,
        p.endTimeMs.toDouble, 0L, null, Nil))
    }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val ops = p.stateOperators.toSeq
      spans.add(Span(ids.incrementAndGet(), "stream.batch", start,
        start + d.getOrElse("triggerExecution", 0L), 0L, null, Seq(
          "query" -> p.id.toString, "batch" -> p.batchId,
          "add_batch_ms" -> d.getOrElse("addBatch", 0L),
          "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
          "offset_commit_ms" -> d.getOrElse("commitOffsets", 0L),
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
          "state_stores" -> ops.map(_.numStateStoreInstances).sum,
          "state_rows" -> ops.map(_.numRowsTotal).sum)))
    }
  }

  /** Registers the listeners; traced passes run between attach and detach. */
  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    Bus.drain(spark)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def keyStart(id: String, item: String, pass: Int): Unit = {
    baseline = Snapshot.take()
    push(Span(ids.incrementAndGet(), "key", now, 0, 0L, id, Seq("item" -> item, "pass" -> pass)))
  }

  def keyEnd(id: String): Unit = {
    val key = pop()
    val delta = Snapshot.take().minus(baseline)
    Bus.drain(spark)
    val storage = Storage.sample(spark)
    val c = counts(id)
    rec.write("type" -> "key", "id" -> id, "item" -> key.attr("item"),
      "pass" -> key.attr("pass"), "start" -> key.start, "end" -> key.end,
      "jobs" -> c.jobs.get, "stages" -> c.stages.get, "tasks" -> c.tasks.get,
      "task_run_ms" -> c.runMs.get, "task_cpu_ms" -> c.cpuNs.get / 1e6,
      "gc_ms" -> c.gcMs.get, "shuffle_write_bytes" -> c.shuffleWrite.get,
      "shuffle_read_bytes" -> c.shuffleRead.get, "fetch_wait_ms" -> c.fetchWaitMs.get,
      "spill_bytes" -> c.spill.get, "rule_ms" -> delta.ruleNs / 1e6,
      "rule_runs" -> delta.ruleRuns, "rule_effective" -> delta.ruleEffective,
      "compiles" -> delta.compiles, "compile_ms" -> delta.compileNs / 1e6,
      "storage_bytes" -> (storage.mem + storage.disk), "persisted_rdds" -> storage.rdds)
  }

  /** A harness span around `body`, child of the innermost open one. */
  def span[A](name: String)(body: => A): A = {
    push(Span(ids.incrementAndGet(), name, now, 0, 0L, null, Nil))
    try body finally pop()
  }

  /** The executed plan of a key's timed action; kept for its first run. */
  def plan(id: String, text: String): Unit = plans.putIfAbsent(id.split("-", 3)(2), text)

  private def push(s: Span): Unit = {
    val parent = stack.headOption
    val withParent = s.copy(parent = parent.map(_.id).getOrElse(0L),
      key = Option(s.key).orElse(parent.map(_.key)).orNull)
    stack = withParent :: stack
  }

  private def pop(): Span = {
    val done = stack.head.copy(end = now)
    stack = stack.tail
    spans.add(done)
    done
  }

  /** Attributes the listener spans to keys; writes spans and plans. */
  def finish(): Unit = {
    val all = spans.asScala.toVector
    val own = all.filter(s => s.key != null && !s.name.startsWith("exec.")).sortBy(_.start)
    val keys = own.filter(_.name == "key")
    val keyIds = keys.map(_.key).toSet
    // innermost harness span of the key holding the span's start
    def parentOf(s: Span, key: String): Span =
      own.filter(d => d.key == key && d.start <= s.start && s.start <= d.end)
        .maxByOption(_.start).getOrElse(keys.find(_.key == key).get)
    val attributed = all.flatMap { s =>
      if (s.parent != 0L || s.name == "key") Some(s)
      else {
        val key = Option(s.key).filter(keyIds).orElse(
          keys.find(k => k.start <= s.start && s.start <= k.end).map(_.key))
        key.map(k => s.copy(key = k, parent = parentOf(s, k).id))
      }
    }
    val w = Files.newBufferedWriter(spansPath)
    try attributed.sortBy(_.start).foreach { s =>
      w.write((Seq[(String, Any)]("id" -> s.id, "name" -> s.name, "start" -> s.start,
        "end" -> s.end, "parent" -> s.parent, "key" -> s.key) ++ s.attrs)
        .map { case (k, v) => s"${Records.str(k)}:${Records.value(v)}" }
        .mkString("{", ",", "}\n"))
    } finally w.close()
    val dir = spansPath.resolveSibling("plans")
    Files.createDirectories(dir)
    plans.forEach((item, text) => Files.writeString(dir.resolve(s"$item.txt"), text))
  }
}

object Tracer {
  final case class Span(id: Long, name: String, start: Double, end: Double,
      parent: Long, key: String, attrs: Seq[(String, Any)]) {
    def attr(k: String): Any = attrs.find(_._1 == k).map(_._2).orNull
  }

  final class Counters {
    val jobs, stages, tasks, runMs, cpuNs, gcMs = new AtomicLong
    val shuffleWrite, shuffleRead, fetchWaitMs, spill = new AtomicLong
  }

  /** JVM-wide counters read before and after each key. */
  final case class Snapshot(ruleNs: Long, ruleRuns: Long, ruleEffective: Long,
      compiles: Long, compileNs: Long) {
    def minus(o: Snapshot): Snapshot = Snapshot(ruleNs - o.ruleNs,
      ruleRuns - o.ruleRuns, ruleEffective - o.ruleEffective,
      compiles - o.compiles, compileNs - o.compileNs)
  }

  object Snapshot {
    def take(): Snapshot = {
      val r = RuleExecutor.getCurrentMetrics()
      Snapshot(r.time, r.numRuns, r.numEffectiveRuns,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    }
  }
}
