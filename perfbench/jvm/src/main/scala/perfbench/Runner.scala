package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GasPipeline
import graft.queries.GasQueries
import graft.store.LongStore

/** One benchmark run in one JVM: set-up, then whole rounds of one workload
  * until `--seconds` have passed, then `out/result.json` (and, for the
  * dashboard, `out/panels.csv`) for `perfbench/run.py` to check and sum up.
  *
  * The runner only times calls into the program's public functions:
  * `GasPipeline.runBatch`, `LongStore.readWindow`, `GasQueries.*` and
  * `SparkEntry.queries`. Inputs are made beforehand by `perfbench/gen.py`.
  *
  * {{{
  * java -cp <classpath> perfbench.Runner --workload dashboard_tick --work <dir>
  *   --seconds 8 --trace 0 --cores 4 [--queries a,b,c]
  * }}}
  */
object Runner {

  final case class Args(workload: String, work: Path, seconds: Double, trace: Boolean,
      cores: Int, queries: Seq[String])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), Paths.get(m("work")).toAbsolutePath, m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt,
      m.getOrElse("queries", "").split(',').filter(_.nonEmpty).toSeq)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = args.workload match {
      case "board" =>
        graft.util.StressSession.builder(s"${args.work}/in/tables", args.cores.toString)
          .config("spark.sql.warehouse.dir", s"${args.work}/scratch/warehouse")
          .config("spark.local.dir", s"${args.work}/scratch/spark-local")
          .getOrCreate()
      case _ =>
        SparkSession.builder()
          .master(s"local[${args.cores}]")
          .config("spark.sql.shuffle.partitions", args.cores.toString)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.sql.warehouse.dir", s"${args.work}/scratch/warehouse")
          .config("spark.local.dir", s"${args.work}/scratch/spark-local")
          .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val out = new Json
    out.num("session_s", (System.currentTimeMillis() - jvmStart) / 1e3)
    try {
      val w: Workload = args.workload match {
        case "dashboard_tick" => new DashboardTick(spark, args)
        case "board" => new Board(spark, args)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      w.setup()
      // set-up time: from JVM start to the first timed call
      out.num("setup_s", (System.currentTimeMillis() - jvmStart) / 1e3)
      val trace = if (args.trace) Some(new Trace(spark)) else None
      val rounds = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      var more = true
      while (more && (rounds.size < w.minRounds || (System.nanoTime() - t0) / 1e9 < args.seconds)) {
        val s = w.round(rounds.size, trace)
        if (s < 0) more = false else rounds += s
      }
      if (rounds.isEmpty) sys.error("the inputs did not last for one round")
      finish(spark, args, out, w, rounds.toSeq, trace)
    } finally spark.stop()
  }

  private def finish(spark: SparkSession, args: Args, out: Json, w: Workload,
      rounds: Seq[Double], trace: Option[Trace]): Unit = {
    out.arr("rounds_s", rounds.map(_.toString))
    w.report(out)
    trace.foreach(t => w.traced(t.report(), rounds, args.cores, out))
    // heap the run leaves behind once garbage is collected: first let the
    // listener bus deliver its backlog (queued events are heap too, and a
    // starved run queues more), then take the least of a few readings
    org.apache.spark.BusAccess.drain(spark.sparkContext)
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val heap = (1 to 3).map { _ => System.gc(); Thread.sleep(100); mem.getHeapMemoryUsage.getUsed }.min
    out.num("heap_mb", heap / 1048576.0)
    Files.writeString(args.work.resolve("out/result.json"), out.render)
  }

  /** Timed call: traced when a trace is on, plain timing otherwise. */
  def call[T](trace: Option[Trace], tag: String)(body: => T): (T, Double) = trace match {
    case Some(t) => t.call(tag)(body)
    case None =>
      val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  def micros(t: java.sql.Timestamp): Long = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  def names(df: DataFrame): Seq[String] = df.collect().map(_.getString(0)).toSeq.sorted

  /** Parquet data files under a store, not those of its `_manifest` or
    * other `_`-prefixed side tables: (count, bytes). */
  def storeFiles(store: Path): (Long, Long) =
    if (!Files.exists(store)) (0L, 0L)
    else {
      val fs = Files.walk(store).iterator().asScala.filter { p =>
        Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet") &&
          !store.relativize(p).iterator().asScala.map(_.toString)
            .exists(c => c.startsWith("_") && !c.contains("="))
      }.toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    }

  def partFiles(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else Files.list(dir).iterator().asScala.count(_.getFileName.toString.startsWith("part-")).toLong
}

/** A workload: `setup` runs once before the timed rounds; `round` runs one
  * whole round and returns its wall seconds, or -1 when the inputs for
  * another round are used up. A run holds at least `minRounds` rounds, set
  * so that they outlast `--seconds` on this host: the round count then does
  * not change with the host's speed, and neither does what the median is
  * taken over. */
trait Workload {
  def minRounds: Int
  def setup(): Unit
  def round(i: Int, trace: Option[Trace]): Double
  def report(out: Json): Unit
  def traced(r: Report, rounds: Seq[Double], cores: Int, out: Json): Unit
}

/** Figures every traced run reports, per timed round. */
object Layers {
  def exec(r: Report, rounds: Seq[Double], cores: Int, out: Json): Unit = {
    val n = rounds.size.toDouble
    out.num("exec.task_cpu_s", r.sum("")(_.cpuNs) / 1e9 / n)
    out.num("exec.core_busy", r.sum("")(_.runMs) / 1e3 / (rounds.sum * cores))
    out.num("exec.gc_s", r.sum("")(_.gcMs) / 1e3 / n)
    out.num("exec.tasks", r.sum("")(_.tasks) / n)
    out.num("exec.shuffle_write_mb", r.sum("")(_.shuffleWrite) / 1048576.0 / n)
    out.num("exec.spill_mb", r.sum("")(_.spill) / 1048576.0 / n)
    out.num("trace.listener_ms", r.listenerMs / n)
  }
}

/** The reference's daily steady state. Set-up loads the history of day
  * files in one batch (a backfill into an empty store) and runs one daily
  * cycle; each round lands one new day file, runs a trigger that loads it, a
  * trigger that finds nothing new, and the dashboard's panel set. */
final class DashboardTick(spark: SparkSession, a: Runner.Args) extends Workload {
  val minRounds = 3
  private val landing = a.work.resolve("in/landing")
  private val arrivals: Seq[Path] =
    Files.list(a.work.resolve("in/arrivals")).iterator().asScala
      .filter(_.toString.endsWith(".csv")).toSeq.sortBy(_.getFileName.toString)
  private val lastDay: Path = Files.list(landing).iterator().asScala
    .filter(_.toString.endsWith(".csv")).maxBy(_.getFileName.toString)
  private var store = ""
  private var ledger = ""
  private var historyLoadS = 0.0
  private var historyNames = Seq.empty[String]
  private var historyBytes = 0L
  private val cycles = mutable.ArrayBuffer.empty[String]
  private val panelOut = new java.io.PrintWriter(a.work.resolve("out/panels.csv").toFile)
  panelOut.println("cycle,panel,bucket_us,field,mean,min,max,n")
  private var written = (0L, 0L)
  private var panelRows = 0L

  private def day(name: String) = java.time.LocalDate.parse(name.take(8),
    java.time.format.DateTimeFormatter.BASIC_ISO_DATE)

  /** The dashboard: (panel id, first day of the window read, query over the
    * window), for new day `d`. One panel over the new day, two over a
    * multi-day range; `perfbench/run.py` checks the same set. */
  private def panels(d: java.time.LocalDate): Seq[(String, java.time.LocalDate, DataFrame => DataFrame)] = Seq(
    ("day_mean_co", d.minusDays(1), GasQueries.fieldDayMean(_, "CO (ppm)", d.toString)),
    ("week_hourly_co", d.minusDays(7), w => GasQueries.aggregateWindow(GasQueries.fieldFilter(
      GasQueries.timeRange(w, s"${d.minusDays(6)} 00:00:00", s"${d.plusDays(1)} 00:00:00"),
      "CO (ppm)"), "1 hour")),
    ("days_15min_all", d.minusDays(3), w => GasQueries.aggregateWindow(
      GasQueries.timeRange(w, s"${d.minusDays(2)} 00:00:00", s"${d.plusDays(1)} 00:00:00"),
      "15 minutes")))

  /** Runs the panel set over day `d`; returns (id, readWindow s, exec s, rows). */
  private def runPanels(d: java.time.LocalDate, cycle: Int,
      trace: Option[Trace]): Seq[(String, Double, Double, Int)] =
    panels(d).map { case (id, from, q) =>
      val (w, rwS) = Runner.call(trace, "readWindow") {
        LongStore.readWindow(spark, store, from.toString, d.toString)
      }
      val (rows, exS) = Runner.call(trace, "panel") { q(w).collect() }
      if (cycle >= 0) rows.foreach { r =>
        panelOut.println(Seq(cycle, id, Runner.micros(r.getTimestamp(0)),
          Json.csvField(r.getString(1)), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getLong(5)).mkString(","))
      }
      (id, rwS, exS, rows.length)
    }

  /** A backfill of the history but its last day into an empty store (timed
    * on its own), then one whole daily cycle with that last day, so the
    * timed rounds do not pay for code paths the backfill never ran. */
  def setup(): Unit = {
    store = s"${a.work}/scratch/hist/store"
    ledger = s"${a.work}/scratch/hist/ledger"
    val aside = a.work.resolve("scratch").resolve(lastDay.getFileName)
    Files.move(lastDay, aside, StandardCopyOption.ATOMIC_MOVE)
    val (names, s) = Runner.call(None, "history") {
      Runner.names(GasPipeline.runBatch(spark, landing.toString, store, ledger))
    }
    historyLoadS = s
    historyBytes = Runner.storeFiles(Paths.get(store))._2
    Files.move(aside, lastDay, StandardCopyOption.ATOMIC_MOVE)
    historyNames = names ++ Runner.names(GasPipeline.runBatch(spark, landing.toString, store, ledger))
    Runner.names(GasPipeline.runBatch(spark, landing.toString, store, ledger))
    runPanels(day(lastDay.getFileName.toString), -1, None)
  }

  def round(i: Int, trace: Option[Trace]): Double = {
    if (i >= arrivals.size) return -1
    val f = arrivals(i)
    Files.move(f, landing.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
    val before = Runner.storeFiles(Paths.get(store))
    val (loaded, loadS) = Runner.call(trace, "load") {
      Runner.names(GasPipeline.runBatch(spark, landing.toString, store, ledger))
    }
    val after = Runner.storeFiles(Paths.get(store))
    written = (written._1 + after._1 - before._1, written._2 + after._2 - before._2)
    val (noop, noopS) = Runner.call(trace, "noop") {
      Runner.names(GasPipeline.runBatch(spark, landing.toString, store, ledger))
    }
    val ps = runPanels(day(f.getFileName.toString), i, trace)
    panelRows += ps.map(_._4).sum
    cycles += Json.obj(Seq("cycle" -> i.toString, "file" -> Json.str(f.getFileName.toString),
      "load_s" -> loadS.toString, "loaded" -> Json.strs(loaded),
      "noop_s" -> noopS.toString, "noop" -> Json.strs(noop),
      "panels" -> ps.map { case (id, rw, ex, n) =>
        Json.obj(Seq("id" -> Json.str(id), "read_window_s" -> rw.toString,
          "exec_s" -> ex.toString, "rows" -> n.toString))
      }.mkString("[", ",", "]")))
    loadS + noopS + ps.map(p => p._2 + p._3).sum
  }

  def report(out: Json): Unit = {
    panelOut.close()
    out.raw("history", Json.obj(Seq("load_s" -> historyLoadS.toString,
      "returned" -> Json.strs(historyNames), "store_bytes" -> historyBytes.toString,
      "store" -> Json.str(store), "ledger" -> Json.str(ledger))))
    out.raw("cycles", cycles.mkString("[", ",", "]"))
  }

  /** Per loading trigger unless named otherwise; `ingest.noop_*` per
    * trigger that found nothing new. */
  def traced(r: Report, rounds: Seq[Double], cores: Int, out: Json): Unit = {
    def per(tag: String) = math.max(1L, r.calls(tag)).toDouble
    def ingest(tag: String, prefix: String): Unit = {
      val csvRows = r.rowCount(tag, "csv_rows")
      out.num(s"${prefix}discover_s", r.sum(tag, _ == "ingest.discover")(_.jobMs) / 1e3 / per(tag))
      out.num(s"${prefix}csv_rows_scanned", csvRows / per(tag))
      out.num(s"${prefix}useful_rows_ratio",
        if (csvRows == 0) 0.0 else r.rowCount(tag, "unseen_rows").toDouble / csvRows)
    }
    ingest("load", "ingest.")
    ingest("noop", "ingest.noop_")
    val n = per("load")
    def load(module: String)(f: Cell => Long) = r.sum("load", _ == module)(f) / n
    out.num("ingest.csv_bytes_scanned", load("ingest.discover")(_.bytesRead))
    out.num("ingest.ledger_s", load("ingest.ledger")(_.jobMs) / 1e3)
    out.num("ingest.ledger_files", Runner.partFiles(Paths.get(ledger)).toDouble)
    out.num("transform.rows_in", r.rowCount("load", "unseen_rows") / n)
    out.num("transform.rows_kept", r.rowCount("load", "kept_rows") / n)
    out.num("store.write_s", load("store.write")(_.jobMs) / 1e3)
    out.num("store.points_written", load("store.write")(_.recWritten))
    out.num("store.files_written", written._1 / n)
    out.num("store.bytes_written", written._2 / n)
    out.num("store.shuffle_write_mb", load("store.write")(_.shuffleWrite) / 1048576.0)
    out.num("store.spill_mb", load("store.write")(_.spill) / 1048576.0)
    out.num("store.manifest_s", load("store.manifest")(_.jobMs) / 1e3)
    out.num("store.read_window_s", r.callSeconds("readWindow") / per("readWindow"))
    out.num("store.read_window_jobs", r.sum("readWindow")(_.jobs) / per("readWindow"))
    out.num("store.rows_scanned_per_row_returned",
      r.sum("panel")(_.recRead).toDouble / math.max(1L, panelRows))
    out.num("queries.panel_exec_s", r.callSeconds("panel") / per("panel"))
    out.num("queries.panel_jobs", r.sum("panel")(_.jobs) / per("panel"))
    out.num("queries.plan_ms", r.plan("panel") / per("panel"))
    Layers.exec(r, rounds, cores, out)
  }
}

/** Repeated passes over a fixed list of registered queries. Each query is
  * built (`SparkEntry.queries(name)(spark, dir)`) and then executed with a
  * `noop` write, as `graft.Bench` does. */
final class Board(spark: SparkSession, a: Runner.Args) extends Workload {
  val minRounds = 2
  private val dir = s"${a.work}/in/tables"
  private val passes = mutable.ArrayBuffer.empty[String]

  /** One pass that writes each result for the oracle check, one parquet
    * file per query as graft.Verify writes them, then one untimed pass: the
    * second pass still runs about half again as long as the later ones. */
  def setup(): Unit = {
    a.queries.foreach { q =>
      graft.SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"${a.work}/out/board/$q")
    }
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(a.work.resolve("out/oracle.json"),
      Json.obj(a.queries.map(q => q -> Json.str(oracle.getOrElse(q, "")))))
    pass(None)
  }

  private def pass(trace: Option[Trace]): Seq[(String, Double, Double)] =
    a.queries.map { q =>
      val (df, b) = Runner.call(trace, s"board.build:$q") { graft.SparkEntry.queries(q)(spark, dir) }
      val (_, e) = Runner.call(trace, s"board.exec:$q") {
        df.write.format("noop").mode("overwrite").save()
      }
      (q, b, e)
    }

  def round(i: Int, trace: Option[Trace]): Double = {
    val t0 = System.nanoTime()
    val p = pass(trace)
    val s = (System.nanoTime() - t0) / 1e9
    passes += Json.obj(Seq("s" -> s.toString, "queries" -> Json.obj(p.map { case (q, b, e) =>
      q -> Json.obj(Seq("build_s" -> b.toString, "exec_s" -> e.toString))
    })))
    s
  }

  def report(out: Json): Unit = out.raw("passes", passes.mkString("[", ",", "]"))

  def traced(r: Report, rounds: Seq[Double], cores: Int, out: Json): Unit = {
    val n = rounds.size.toDouble
    out.num("sources.schema_jobs", r.sum("board", _ == "sources")(_.jobs) / n)
    out.num("sources.read_s", r.sum("board", _ == "sources")(_.jobMs) / 1e3 / n)
    out.num("board.build_s", r.callSeconds("board.build") / n)
    out.num("board.build_jobs", r.sum("board.build")(_.jobs) / n)
    out.num("board.exec_s", r.callSeconds("board.exec") / n)
    out.num("board.exec_jobs", r.sum("board.exec")(_.jobs) / n)
    out.num("board.plan_ms", r.plan("board.exec") / n)
    out.num("util.checkpoint_jobs", r.sum("board", _ == "util")(_.jobs) / n)
    out.num("util.checkpoint_s", r.sum("board", _ == "util")(_.jobMs) / 1e3 / n)
    out.num("operators.jobs", r.sum("board", _ == "operators")(_.jobs) / n)
    out.num("operators.s", r.sum("board", _ == "operators")(_.jobMs) / 1e3 / n)
    Layers.exec(r, rounds, cores, out)
  }
}

/** Just enough JSON writing for the result file. */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[(String, String)]
  def num(k: String, v: Double): Unit = fields += (k -> (if (v.isNaN || v.isInfinite) "null" else v.toString))
  def arr(k: String, vs: Seq[String]): Unit = fields += (k -> vs.mkString("[", ",", "]"))
  def raw(k: String, v: String): Unit = fields += (k -> v)
  def render: String = Json.obj(fields.toSeq)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def strs(ss: Seq[String]): String = ss.map(str).mkString("[", ",", "]")
  def csvField(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""
}
