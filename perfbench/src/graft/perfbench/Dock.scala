package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.sources._

/** The write-path items of the `llm_land_stream` workload.
  *
  *  - `dock.report` and `dock.statements`: the two reference DAGs,
  *    `PipelineMain.runReportDag` and `PipelineMain.runStatementsDag`,
  *    against a seeded landing of zipped `id,day,amount` CSV with a share
  *    of malformed rows, through the engine's `JdkHttpTransport` to a stub
  *    of the Dock API on one local socket. The stub answers the first
  *    ticket poll of every report run with HTTP 503, so each report run
  *    takes one retry. Traced and untraced passes make the same calls;
  *    the tracer splits a report run into sensing, transfer and ingest
  *    from its REST spans and the call sites of its Spark jobs.
  *
  * The landing is generated from `--seed` (file count and rows per file
  * are fixed by the workload; values, days and the positions and kinds of
  * the bad rows come from the seed), and the expected per-day totals come
  * from the same generator, so the DAG output is checked exactly.
  */
final class Dock(cfg: Main.Config, root: Path, landing: Path,
    expected: Map[String, (Long, Long)], validRows: Long) {
  import Dock._

  private val armed = new AtomicBoolean(false)
  private val tickets = new AtomicLong(0)
  private val server = stubApi()
  private val base = s"http://127.0.0.1:${server.getAddress.getPort}"
  private val landedBytes = Files.list(landing).mapToLong(Files.size(_)).sum
  private val accounts = (1 to cfg.accounts).map(i => s"acct-$i")
  private val today = java.time.LocalDate.parse("2024-01-02")
  private val delayMs = 25L

  def run(item: String, r: Runner): Seq[(String, Any)] = item match {
    case Report => report(r)
    case Statements => statements(r)
  }

  private def report(r: Runner): Seq[(String, Any)] = {
    val http = new TimingTransport(new JdkHttpTransport(), r)
    val work = root.resolve("work")
    armed.set(true)
    val rows = r.span("sources.report")(PipelineMain.runReportDag(r.spark, http, base,
      "client", "secret", landing, work, today, retryDelayMs = delayMs).collect().toSeq)
    val got = rows.map(row => row.getString(0) ->
      (row.getLong(1), math.round(row.getDouble(2) * 100))).toMap
    Seq("ok" -> (got == expected), "valid_rows" -> validRows,
      "rest_calls" -> http.calls.get, "rest_failures" -> http.failures.get,
      "transfer_bytes" -> landedBytes) ++
      (if (got == expected) Nil else Seq("error" -> s"report DAG output $got"))
  }

  private def statements(r: Runner): Seq[(String, Any)] = {
    val http = new TimingTransport(new JdkHttpTransport(), r)
    val got = r.span("sources.statements")(PipelineMain.runStatementsDag(r.spark,
      http, base, "client", "secret", accounts, landing, today,
      retryDelayMs = delayMs).collect().toSeq)
      .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
    val want = accounts.sorted.map { a =>
      val f = statementFile(a, cfg.landFiles)
      (a, f, Files.size(landing.resolve(f)))
    }
    Seq("ok" -> (got == want), "rest_calls" -> http.calls.get,
      "rest_failures" -> http.failures.get) ++
      (if (got == want) Nil else Seq("error" -> s"statements DAG output $got"))
  }

  private def stubApi(): HttpServer = {
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def reply(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    server.createContext("/oauth2/token",
      (ex: HttpExchange) => reply(ex, 200, """{"access_token": "tok-bench"}"""))
    server.createContext("/report", (ex: HttpExchange) => {
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      if (!q.contains("ticket=")) reply(ex, 200, s"""{"ticket": "T-${tickets.incrementAndGet()}"}""")
      else if (armed.getAndSet(false)) reply(ex, 503, """{"error": "report not ready"}""")
      else reply(ex, 200, s"""{"file": "${fileName(0)}"}""")
    })
    server.createContext("/accounts", (ex: HttpExchange) => {
      val acct = ex.getRequestURI.getPath.split("/")(2)
      reply(ex, 200, s"""{"fileName": "${statementFile(acct, cfg.landFiles)}"}""")
    })
    server.start()
    server
  }

  def close(): Unit = server.stop(0)
}

object Dock {
  val Report = "dock.report"
  val Statements = "dock.statements"

  def isItem(item: String): Boolean = item.startsWith("dock.")

  private def fileName(i: Int): String = f"balance_$i%03d.zip"

  private def statementFile(acct: String, files: Int): String =
    fileName(java.lang.Math.floorMod(acct.hashCode, files))

  private val days = (1 to 7).map(d => f"2024-01-$d%02d")

  /** Malformed rows, each failing one of the ingest's validations. */
  private def badRow(rng: scala.util.Random, id: Long, day: String): String =
    rng.nextInt(4) match {
      case 0 => s"x$id,$day,1.00"
      case 1 => s"$id,${day.replace('-', '/')},1.00"
      case 2 => s"$id,$day,n/a"
      case _ => ",,bad-row"
    }

  /** Writes the seeded landing under the run directory. */
  def prepare(cfg: Main.Config): Dock = {
    val root = cfg.out.resolve("dock")
    val landing = Files.createDirectories(root.resolve("landing"))
    val rng = new scala.util.Random(cfg.seed)
    val totals = scala.collection.mutable.Map.empty[String, (Long, Long)]
    var id = 0L
    for (f <- 0 until cfg.landFiles) {
      val rows = (0 until cfg.landRows).map { _ =>
        id += 1
        val day = days(rng.nextInt(days.size))
        if (rng.nextDouble() < cfg.badShare) badRow(rng, id, day)
        else {
          val cents = 1L + rng.nextInt(1000000)
          val (n, sum) = totals.getOrElse(day, (0L, 0L))
          totals(day) = (n + 1, sum + cents)
          f"$id,$day,${cents / 100}.${cents % 100}%02d"
        }
      }
      val csv = ("id,day,amount" +: rows).mkString("\n")
      Files.write(landing.resolve(fileName(f)),
        Zip.zip(Seq((f"balance_$f%03d.csv", csv.getBytes("UTF-8")))))
    }
    Files.write(landing.resolve("README.txt"), "not a zip".getBytes("UTF-8"))
    new Dock(cfg, root, landing, totals.toMap, totals.values.map(_._1).sum)
  }
}

/** `HttpTransport` wrapper: one `sources.rest` span per call, and counts
  * of calls and of failed calls (each failure is retried by the caller).
  */
final class TimingTransport(inner: HttpTransport, r: Runner) extends HttpTransport {
  val calls = new AtomicLong(0)
  val failures = new AtomicLong(0)

  override def fetch(url: String, basicAuth: Option[(String, String)],
      headers: Map[String, String]): String = r.span("sources.rest") {
    calls.incrementAndGet()
    try inner.fetch(url, basicAuth, headers)
    catch { case e: Exception => failures.incrementAndGet(); throw e }
  }
}
