package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

/** Benchmark harness JVM. Runs one workload as a closed loop with a single
  * client: every item (a `SparkEntry.queries` key, or one of the Dock
  * items in [[Dock]]) runs after the previous one returned.
  *
  * Phases, in order:
  *  1. set-up, `--setup-reps` times: a fresh session, then resolve the
  *     ten tables through `graft.Tables`. The previous session is stopped
  *     and the private tmpdir emptied between reps.
  *  2. first-touch pass: every item once, in name order. This builds the
  *     staged artifacts, the driver-held models and the codegen caches.
  *  3. timed passes: `LlmData.clearMemo`, then every item in a seeded
  *     permutation, repeated while the `--seconds` window lasts and at
  *     least `--min-passes` times.
  *  4. with `--trace 1` only: after each timed pass, a traced pass over
  *     the same permutation, with the listeners of [[Tracer]] registered.
  *
  * Every item's output is checked: query keys report a row count and an
  * order-insensitive digest (see [[Action]]), Dock items check themselves.
  * Results go to `<out>/records.jsonl` (and `<out>/spans.jsonl` when
  * traced); `perfbench/run.py` turns them into metrics.
  */
object Main {

  final case class Config(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, out: Path, items: Seq[String],
      setupReps: Int, minPasses: Int, slots: Int, landFiles: Int, landRows: Int,
      badShare: Double, accounts: Int)

  private def parse(args: Array[String]): Config = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Config(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), Paths.get(m("out")),
      m("items").split(",").toSeq.filter(_.nonEmpty), m("setup-reps").toInt,
      m("min-passes").toInt, m("slots").toInt, m.getOrElse("land-files", "0").toInt,
      m.getOrElse("land-rows", "0").toInt, m.getOrElse("bad-share", "0").toDouble,
      m.getOrElse("accounts", "0").toInt)
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val rec = new Records(cfg.out.resolve("records.jsonl"))
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val streamRoot = Paths.get(sys.env("SPARK_GRAFT_STREAM_CKPT_ROOT"))
    // seeded inputs exist before any timing starts
    val dock = if (cfg.items.exists(Dock.isItem)) Some(Dock.prepare(cfg)) else None

    var spark: SparkSession = null
    for (rep <- 0 until cfg.setupReps) {
      if (spark != null) {
        spark.stop()
        emptyDir(tmp)
      }
      val t0 = System.nanoTime()
      spark = newSession(cfg)
      val t1 = System.nanoTime()
      graft.Tables.names.foreach(graft.Tables(spark, cfg.data, _).schema)
      rec.write("type" -> "setup", "rep" -> rep, "ms" -> ms(t0),
        "session_ms" -> (t1 - t0) / 1e6, "tables_ms" -> ms(t1))
    }
    val runner = new Runner(spark, cfg, rec, dock)
    try {
      // 2. first touch, name order: the same work for every seed
      val w0 = System.nanoTime()
      cfg.items.sorted.foreach(runner.run("warm", 0, _))
      rec.write(Seq[(String, Any)]("type" -> "warm", "ms" -> ms(w0)) ++
        Staged.scan(Seq(tmp, streamRoot)): _*)

      // 3. timed passes over seeded permutations of the item list; when
      // tracing, each one is followed by a traced pass in the same order,
      // so traced and untraced passes alternate and see the same warmth
      val rng = new scala.util.Random(cfg.seed)
      val tracer =
        if (cfg.trace) Some(new Tracer(spark, cfg.out.resolve("spans.jsonl"), rec)) else None
      val windowNs = (cfg.seconds * 1e9).toLong
      var timedNs = 0L
      var i = 0
      while (i < cfg.minPasses || timedNs < windowNs) {
        val order = rng.shuffle(cfg.items)
        val t0 = System.nanoTime()
        runner.pass("timed", i, order)
        timedNs += System.nanoTime() - t0
        tracer.foreach { t =>
          t.attach()
          runner.tracer = tracer
          runner.pass("traced", i, order)
          runner.tracer = None
          t.detach()
        }
        i += 1
      }
      tracer.foreach(_.finish())
    } finally {
      dock.foreach(_.close())
      rec.close()
      spark.stop()
    }
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** The session `graft.Bench` builds, on `slots` local cores. */
  private def newSession(cfg: Config): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${cfg.slots}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cfg.slots)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", cfg.out.resolve("warehouse").toString)
      // the status store keeps finished jobs, stages, tasks and SQL
      // executions up to these limits; small limits make the heap held
      // after a pass independent of how many passes ran before it
      .config("spark.ui.retainedJobs", 50)
      .config("spark.ui.retainedStages", 50)
      .config("spark.ui.retainedTasks", 1000)
      .config("spark.sql.ui.retainedExecutions", 20)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def emptyDir(dir: Path): Unit =
    Files.list(dir).iterator().asScala.foreach(p =>
      org.apache.commons.io.FileUtils.forceDelete(p.toFile))
}

/** Runs items, times them, checks them, and records one sample each. */
final class Runner(val spark: SparkSession, cfg: Main.Config, rec: Records,
    dock: Option[Dock]) {

  var tracer: Option[Tracer] = None
  private val queries = graft.SparkEntry.queries

  def pass(phase: String, index: Int, order: Seq[String]): Unit = {
    graft.operators.LlmData.clearMemo(spark)
    val t0 = System.nanoTime()
    order.foreach(run(phase, index, _))
    val wallMs = (System.nanoTime() - t0) / 1e6
    // untimed: retained state after the pass
    Bus.drain(spark)
    val storage = Storage.sample(spark)
    // the second collection frees the blocks the context cleaner released
    // for objects the first one found unreachable
    System.gc()
    Thread.sleep(100)
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    rec.write("type" -> "pass", "phase" -> phase, "pass" -> index,
      "wall_ms" -> wallMs, "items" -> order.size, "heap_after_gc" -> heap,
      "storage_mem" -> storage.mem, "storage_disk" -> storage.disk,
      "persisted_rdds" -> storage.rdds)
  }

  def run(phase: String, index: Int, item: String): Unit = {
    val id = s"$phase-$index-$item"
    // no job description: a SQL execution then takes its call site as its
    // description, which the tracer reads
    spark.sparkContext.setJobGroup(id, null, interruptOnCancel = false)
    val t0 = System.nanoTime()
    tracer.foreach(_.keyStart(id, item, index))
    val result: Seq[(String, Any)] =
      try {
        if (Dock.isItem(item)) dock.get.run(item, this)
        else {
          val fn = queries(item)
          val df = span("operators.call")(fn(spark, cfg.data))
          val (rows, digest) = span("action")(Action.run(df))
          tracer.foreach(_.plan(id, df.queryExecution.executedPlan.toString))
          Seq("rows" -> rows, "digest" -> digest)
        }
      } catch {
        case e: Throwable =>
          Seq("error" -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    val wallMs = (System.nanoTime() - t0) / 1e6
    spark.sparkContext.clearJobGroup()
    tracer.foreach(_.keyEnd(id))
    rec.write(Seq[(String, Any)]("type" -> "sample", "phase" -> phase,
      "pass" -> index, "item" -> item, "id" -> id, "ms" -> wallMs) ++ result: _*)
  }

  /** A span around a call into one layer; a no-op when not tracing. */
  def span[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
}

/** Cached blocks Spark still holds, from `getRDDStorageInfo`. */
final case class Storage(mem: Long, disk: Long, rdds: Int)

object Storage {
  def sample(spark: SparkSession): Storage = {
    val infos = spark.sparkContext.getRDDStorageInfo
    Storage(infos.map(_.memSize).sum, infos.map(_.diskSize).sum,
      spark.sparkContext.getPersistentRDDs.size)
  }
}

/** Staged artifacts: directories `graft.Fixtures` published (they carry
  * its `_COMPLETE` marker) under the run's tmpdir and stream root.
  */
object Staged {
  def scan(roots: Seq[Path]): Seq[(String, Any)] = {
    val dirs = roots.filter(Files.isDirectory(_)).flatMap { r =>
      val st = Files.walk(r)
      try st.iterator().asScala
        .filter(p => p.getFileName.toString == "_COMPLETE").map(_.getParent).toVector
      finally st.close()
    }
    val bytes = dirs.map(d => org.apache.commons.io.FileUtils.sizeOfDirectory(d.toFile)).sum
    Seq("staged_dirs" -> dirs.size, "staged_bytes" -> bytes)
  }
}

/** JSON-lines writer for flat records of numbers, strings and booleans. */
final class Records(path: Path) {
  private val w = Files.newBufferedWriter(path)

  def write(fields: (String, Any)*): Unit = synchronized {
    w.write(fields.map { case (k, v) => s"${Records.str(k)}:${Records.value(v)}" }
      .mkString("{", ",", "}\n"))
    w.flush()
  }

  def close(): Unit = w.close()
}

object Records {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s => str(s.toString)
  }

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
