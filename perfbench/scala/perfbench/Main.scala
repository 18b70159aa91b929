package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.perfbench.{PlanCounts, Probe}

import graft.{OracleSql, SparkEntry}
import graft.imdb.{Extract, Pipeline, Queries, Transform}

/** One operation of a workload.
  *
  * @param layer  the module whose code the operation runs (its kernel layer)
  * @param step   the per-layer metric its traced time feeds, e.g. `imdb.extract_s`
  * @param inputs input tables it reads (for input rows per second)
  * @param frames builds the result frames; may itself run jobs
  * @param write  a write that returns nothing to count; verified by read-back
  * @param twins  DuckDB SQL whose summed row counts (and, for one twin, row
  *               checksum) the result must match */
final case class Op(name: String, layer: String, step: String, inputs: Seq[String],
                    frames: SparkSession => Seq[DataFrame],
                    write: Option[SparkSession => Seq[DataFrame]] = None,
                    twins: Seq[String] = Nil)

/** Single-JVM harness: builds the session, warms up, runs the workload's
  * operations pass after pass for the measured window, and writes the
  * raw record (`raw.json`) that `run.py` reduces. The seeded inputs are
  * already under `<workDir>/in`.
  *
  * Arguments: workload seconds trace(0|1) workDir cores. */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, secondsArg, traceArg, workDir, coresArg) = args
    val (seconds, trace, cores) = (secondsArg.toDouble, traceArg == "1", coresArg.toInt)
    val h = new Harness(workload, cores, new File(workDir).getAbsoluteFile)
    h.setup()
    h.measure(seconds, trace)
    h.writeRecord()
    h.spark.stop()
  }
}

final class Harness(workload: String, cores: Int, work: File) {

  private val inDir = new File(work, "in").getPath
  private val csvDir = new File(work, "in/imdb").getPath

  var spark: SparkSession = _
  private var ops: Seq[Op] = Nil
  private val setupPhases = mutable.LinkedHashMap[String, Double]()
  private val verifyRec = mutable.LinkedHashMap[String, Map[String, Any]]()
  private val passes = mutable.ArrayBuffer[Map[String, Any]]()
  private val spans = mutable.ArrayBuffer[mutable.Map[String, Any]]()
  private val heapAfterGcMb = mutable.ArrayBuffer[Double]()
  private var probe: Probe = _

  // epoch-ms clock with sub-ms resolution, comparable with listener event times
  private val anchorMs = System.currentTimeMillis(); private val anchorNs = System.nanoTime()
  private def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private def buildSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp").getPath)
      // bounded UI stores: retained-heap must not grow with passes run
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** What a run pays in the JVM before its first timed pass, timed from
    * JVM start: the session and one warm-up pass, which writes each
    * operation's result for the DuckDB comparison `run.py` makes after the
    * JVM exits. (`run.py` generates the inputs beforehand into a fresh
    * work tree, so no index artifact, catalog table or spill of an earlier
    * run survives into this one.) */
  def setup(): Unit = {
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    Seq("out", "spark-local", "warehouse").foreach(d => new File(work, d).mkdirs())
    spark = buildSession()
    ops = Workloads(workload, inDir, csvDir)
    val t1 = System.currentTimeMillis()
    ops.foreach(warmUp)
    val t2 = System.currentTimeMillis()
    setupPhases ++= Seq("session_s" -> (t1 - t0) / 1000.0, "warmup_s" -> (t2 - t1) / 1000.0)
  }

  /** One operation to a completed result: every frame counted through
    * `queryExecution.toRdd` (no row conversion), or the write finished. */
  private def run(op: Op): Long = op.write match {
    case Some(w) => w(spark); -1L
    case None => op.frames(spark).map(_.queryExecution.toRdd.count()).sum
  }

  /** Runs the operation as a timed pass does (to `toRdd.count()`), so the
    * first timed pass finds the same code compiled; then writes a single
    * result frame again for the DuckDB comparison. */
  private def warmUp(op: Op): Unit = {
    val rec = scala.util.Try {
      val frames = op.write.map(_(spark)).getOrElse(op.frames(spark))
      val rows = frames.map(_.queryExecution.toRdd.count()).sum
      frames match {
        case Seq(df) if op.write.isEmpty =>
          val path = new File(work, s"out/${op.name}").getPath
          df.write.parquet(path)
          Map[String, Any]("out" -> path)
        case _ => Map[String, Any]("rows" -> rows)
      }
    }.recover { case e => Map[String, Any]("error" -> e.toString) }.get
    verifyRec(op.name) = rec ++ Map("twins" -> op.twins, "layer" -> op.layer, "step" -> op.step,
      "inputs" -> op.inputs)
  }

  private def newSpan(kind: String, name: String, op: String, pass: Int,
                      parent: Any): mutable.Map[String, Any] = {
    val sp = mutable.LinkedHashMap[String, Any]("id" -> spans.size, "parent" -> parent,
      "kind" -> kind, "name" -> name, "op" -> op, "pass" -> pass, "start_ms" -> nowMs)
    spans += sp
    sp
  }

  private def pass(idx: Int, traced: Boolean): Map[String, Any] = {
    val sc = spark.sparkContext
    val opRecs = mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime()
    for (op <- ops) {
      val o0 = System.nanoTime()
      var rows = -1L
      var err: String = null
      try {
        if (!traced) rows = run(op)
        else {
          val os = newSpan("op", op.name, op.name, idx, null)
          sc.setJobGroup(s"s${os("id")}", op.name)
          try op.write match {
            case Some(w) => w(spark)
            case None =>
              val frames = op.frames(spark)
              val cs = newSpan("call", "count", op.name, idx, os("id"))
              sc.setJobGroup(s"s${cs("id")}", s"${op.name} count")
              rows = frames.map(_.queryExecution.toRdd.count()).sum
              cs("end_ms") = nowMs
              cs("counts") = frames.map(f => PlanCounts.of(f.queryExecution.executedPlan))
                .reduceOption((a, b) => (a.keySet ++ b.keySet).map(k =>
                  k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap).getOrElse(Map.empty)
          } finally {
            os("end_ms") = nowMs
            sc.clearJobGroup()
          }
        }
      } catch { case NonFatal(e) => err = e.toString }
      opRecs += Map("op" -> op.name, "wall_s" -> (System.nanoTime() - o0) / 1e9, "rows" -> rows,
        "error" -> err)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    // retained heap at the pass boundary: work parked in caches shows here
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    heapAfterGcMb += heap
    Map("index" -> idx, "traced" -> traced, "wall_s" -> wall, "ops" -> opRecs.toSeq)
  }

  /** Runs whole passes for `seconds`: a pass starts only if, at the
    * length of the pass before it, it ends inside the window; at least
    * one pass runs. (A rule that let a pass start while the window is
    * open would make the pass count, and with it the share of not yet
    * settled passes in the median, depend on the host's speed.) A traced
    * run alternates untraced and traced passes, at least
    * untraced-traced-untraced: passes still speed up while the JIT
    * settles, so the traced pass is compared with untraced passes on both
    * sides of it, and the difference is the tracing overhead. The
    * listener is registered for the traced passes only, so the untraced
    * passes carry no instrument. */
  def measure(seconds: Double, trace: Boolean): Unit = {
    if (trace) probe = new Probe
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    var last = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes.isEmpty || (trace && passes.size < 3) || elapsed + last <= seconds) {
      val traced = trace && passes.size % 2 == 1
      if (traced) sc.addSparkListener(probe)
      val p = pass(passes.size, traced)
      if (traced) {
        probe.drain(spark)
        sc.removeSparkListener(probe)
      }
      passes += p
      last = p("wall_s").asInstanceOf[Double]
    }
  }

  def writeRecord(): Unit = {
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "stamp" -> Map(
        "local" -> s"local[$cores]",
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version),
      "setup" -> setupPhases,
      "heap_after_gc_mb" -> heapAfterGcMb.toSeq,
      "verify" -> verifyRec,
      "passes" -> passes.toSeq,
      "spans" -> spans.map(_.toMap).toSeq)
    if (probe != null) {
      rec("execs") = probe.execs.values.map(x => Map("id" -> x.id, "root" -> x.root,
        "start_ms" -> x.start, "end_ms" -> x.end, "counts" -> x.counts)).toSeq
      rec("tasks") = probe.accs.map { case (k, a) => k -> Map(
        "tasks" -> a.tasks, "failed" -> a.failed, "stages" -> a.stages, "run_ms" -> a.runMs,
        "scan_stage_run_ms" -> a.scanStageRunMs, "gc_ms" -> a.gcMs, "wait_ms" -> a.waitMs,
        "shuffle_write_b" -> a.shuffleWrite, "shuffle_read_b" -> a.shuffleRead,
        "spill_b" -> a.spill, "durations_ms" -> a.durations.toSeq) }
    }
    val w = new PrintWriter(new File(work, "raw.json"), "UTF-8")
    try w.print(Json(rec)) finally w.close()
  }
}

/** Minimal JSON writer for the raw record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

/** The workloads' operation lists, all through graft's public entry points. */
object Workloads {
  private def entry(name: String, layer: String, step: String, inputs: Seq[String],
                    dir: String, twins: Map[String, String]): Op =
    Op(name, layer, step, inputs, s => Seq(SparkEntry.queries(name)(s, dir)),
      twins = Seq(twins(name)))

  val StarRelational = Seq(
    "rel_star_join_revenue" -> Seq("lineitem", "orders", "customer", "nation", "region"),
    "rel_window_top_per_key" -> Seq("orders", "customer"),
    "rel_window_frames" -> Seq("orders"),
    "rel_scd2_intervals" -> Seq("orders"),
    "rel_scd2_asof" -> Seq("orders", "customer"))

  def apply(workload: String, dir: String, csvDir: String): Seq[Op] = {
    val twins = OracleSql.forDir(dir)
    workload match {
      case "curation_graph" =>
        Seq("dedup_minhash_lsh_pairs" -> "dedup", "dedup_clusters" -> "dedup",
          "graph_pagerank" -> "graph", "graph_kcore" -> "graph",
          "graph_label_propagation" -> "graph").map { case (n, layer) =>
          entry(n, layer, s"$layer.kernel_s", Seq("documents"), dir, twins)
        }
      case "star_etl" => imdbOps(csvDir, twins) ++ StarRelational.map { case (n, in) =>
        entry(n, "relational", "relational.query_s", in, dir, twins)
      }
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }

  private val ImdbFiles = Seq("movie", "ganre", "names", "ratings", "director_mapping",
    "role_mapping")

  /** The paper's ETL: Extract -> the four Transform CTAS -> persist -> the
    * six dashboard queries (deterministic forms), on the generated CSVs.
    * The twins are the registered `imdb_*` DuckDB twins re-pointed at
    * those CSVs. */
  private def imdbOps(csvDir: String, twins: Map[String, String]): Seq[Op] = {
    def sql(name: String) = twins(name).replace(Pipeline.DefaultData, csvDir)
    val base = { val g1 = sql("imdb_graf1"); g1.substring(0, g1.lastIndexOf("SELECT country")) }
    def all(t: String) = base + s"SELECT * FROM $t"
    def count(t: String) = base + s"SELECT 1 FROM $t"
    def star(s: SparkSession) = Pipeline.build(s, csvDir)
    val stagingNames = Seq("movies_staging", "genres_staging", "name_staging", "ratings_staging",
      "director_mapping_staging", "role_mapping_staging")
    val dims = Seq("dim_movies", "dim_people", "dim_genres", "fact_movies")
    def imdb(name: String, step: String, inputs: Seq[String], frames: SparkSession => Seq[DataFrame],
             twinSql: Seq[String]) = Op(name, "imdb", step, inputs, frames, twins = twinSql)
    Seq(
      imdb("imdb_extract", "imdb.extract_s", ImdbFiles,
        s => Extract.readAll(s, csvDir).toSeq.sortBy(_._1).map(_._2), stagingNames.map(count)),
      imdb("imdb_dim_movies", "imdb.transform_s", Seq("movie"),
        s => Seq(Transform.dimMovies(Extract.readAll(s, csvDir)("movies_staging"))),
        Seq(all("dim_movies"))),
      imdb("imdb_dim_people", "imdb.transform_s", Seq("names", "role_mapping", "director_mapping"),
        s => Seq(star(s).dimPeople), Seq(all("dim_people"))),
      imdb("imdb_dim_genres", "imdb.transform_s", Seq("ganre"),
        s => Seq(Transform.dimGenres(Extract.readAll(s, csvDir)("genres_staging"))),
        Seq(all("dim_genres"))),
      imdb("imdb_fact_movies", "imdb.transform_s", ImdbFiles,
        s => Seq(star(s).factMovies), Seq(all("fact_movies"))),
      Op("imdb_persist", "imdb", "imdb.persist_s", ImdbFiles, _ => Nil,
        write = Some { s =>
          Pipeline.persistStar(s, star(s))
          dims.map(t => s.table(s"imdb_etl.$t"))
        }, twins = dims.map(count)),
      imdb("imdb_graf1", "imdb.query_s", Seq("movie"), s => Seq(Queries.graf1(star(s).dimMovies)),
        Seq(sql("imdb_graf1"))),
      imdb("imdb_graf6", "imdb.query_s", Seq("movie"), s => Seq(Queries.graf6Det(star(s).dimMovies)),
        Seq(sql("imdb_graf6"))))
  }
}
