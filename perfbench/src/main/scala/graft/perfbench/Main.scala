package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkEntry
import graft.core.CommitMode
import graft.run.{Engine, ProjectLoader, StateSelector, Target}

/** Benchmark harness: runs one workload through the engine's public API
  * and writes raw samples (unit and read latencies, node results, spans,
  * Spark jobs, FS counters) to `result.json` in the work directory.
  * `run.py` generates the inputs, computes the statistics and checks the
  * exported relations against DuckDB.
  *
  * Usage: Main <plan.json>
  */
object Main {
  implicit val formats: Formats = DefaultFormats

  final case class Read(id: String, model: String, sql: String)

  def main(args: Array[String]): Unit = {
    val plan = JsonMethods.parse(Files.readString(Paths.get(args(0))))
    val b = new Bench(plan)
    val code = try { b.run(); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        b.errors += s"harness: $e"
        b.writeResult()
        3
    }
    sys.exit(code)
  }

  final class Bench(plan: JValue) {
    val workload: String = (plan \ "workload").extract[String]
    val work: Path = Paths.get((plan \ "work").extract[String])
    val seconds: Double = (plan \ "seconds").extract[Double]
    val trace: Boolean = (plan \ "trace").extract[Boolean]
    val threads: Int = (plan \ "threads").extract[Int]
    val minUnits: Int = (plan \ "min_units").extract[Int]
    val maxUnits: Int = (plan \ "max_units").extract[Int]
    val exportDir: Path = work.resolve("export")

    val errors = ArrayBuffer.empty[String]
    val setupS = ArrayBuffer.empty[Double]
    val setupSteal = ArrayBuffer.empty[Double]
    val units = ArrayBuffer.empty[String]
    val probeS = ArrayBuffer.empty[Double]
    val exports = ArrayBuffer.empty[(String, String)]
    val extra = ArrayBuffer.empty[(String, String)]

    lazy val spark: SparkSession = {
      val b = SparkSession.builder()
        .master(s"local[$threads]")
        .config("spark.sql.shuffle.partitions", threads)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("tmp").toString)
        .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    private lazy val listener = new Trace.Listener

    def run(): Unit = {
      workload match {
        case "slim_ci" => slimCi()
        case "incremental_cycles" => incrementalCycles()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      writeResult()
      spark.stop()
    }

    // ------------------------------------------------------------ helpers
    def secs[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    /** Unit loop: at least `minUnits`, then until the time is spent. In a
      * traced run odd units are traced and even ones are not, so the
      * traced-minus-untraced difference is measured in the same run.
      */
    def loop(body: (Int, Boolean) => String): Unit = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var i = 0
      while (i < maxUnits && (i < minUnits || System.nanoTime() < deadline)) {
        val traced = trace && i % 2 == 1
        units += unit(i, traced)(body(i, traced))
        i += 1
      }
      if (trace) for (k <- 0 until 8) { val s = probe(); if (k >= 3) probeS += s }
    }

    /** Host-speed probe for traced runs: a fixed integer kernel on
      * `threads` threads. It runs no engine or Spark code, so no change to
      * the repository moves it; a shift in it means the host changed.
      */
    @volatile private var sink = 0L
    def probe(): Double = secs {
      val ts = (0 until threads).map { k =>
        val t = new Thread(() => {
          var h = 0x9E3779B97F4A7C15L + k
          var i = 0
          while (i < 50000000) { h ^= h << 13; h ^= h >>> 7; h ^= h << 17; i += 1 }
          sink += h
        })
        t.start(); t
      }
      ts.foreach(_.join())
    }._2

    def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

    /** CPU time the hypervisor stole, as a share of the time the guest
      * wanted to run, between two /proc/stat readings. On a shared host
      * part of the run-to-run noise is steal; run.py takes it out of the
      * end-to-end times.
      */
    def cpuStat(): Array[Long] =
      Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).take(8).map(_.toLong)
    def stealShare(a: Array[Long], b: Array[Long]): Double = {
      val d = a.indices.map(k => b(k) - a(k))
      // user nice system idle iowait irq softirq steal
      val wanted = d(0) + d(1) + d(2) + d(5) + d(6) + d(7)
      if (wanted > 0) d(7).toDouble / wanted else 0.0
    }

    /** Times the unit's operation (the build, or the PR path) and keeps its
      * window and, in traced runs, its FS calls, so per-layer figures
      * cover the operation and not the reads or checks that follow it.
      */
    private var opWindow = (0.0, 0.0)
    private var opFs = Map.empty[String, Long]
    private var opSteal = 0.0
    def op[A](body: => A): (A, Double) = {
      val fs0 = if (trace) CountingLocalFs.snapshot() else Map.empty[String, Long]
      val c0 = cpuStat()
      val t0 = Trace.nowMs
      val a = body
      val t1 = Trace.nowMs
      opSteal = stealShare(c0, cpuStat())
      if (trace) opFs = CountingLocalFs.delta(fs0, CountingLocalFs.snapshot())
      opWindow = (t0, t1)
      (a, (t1 - t0) / 1000)
    }

    def unit(i: Int, traced: Boolean)(body: => String): String = {
      if (traced) {
        Trace.clear()
        spark.sparkContext.addSparkListener(listener)
        Trace.enabled = true
      }
      val c0 = cpuStat()
      val t0 = Trace.nowMs
      val payload = body
      val t1 = Trace.nowMs
      val steal = stealShare(c0, cpuStat())
      val tail = if (!traced) "" else {
        Trace.enabled = false
        PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        val sp = Trace.spansIn(t0, t1).map(s =>
          Json.arr(Seq(Json.num(s.id), Json.num(s.parent), Json.str(s.name),
            Json.num(s.t0), Json.num(s.t1))))
        val stages = Trace.stages.asScala.map(s => s.id -> s).toMap
        // per job: [t0, t1, stages, tasks, input, output, shuffle bytes]
        val jobs = Trace.jobsIn(t0, t1).map { j =>
          val st = j.stages.flatMap(stages.get)
          Json.arr(Seq(Json.num(j.t0), Json.num(j.t1), Json.num(st.size),
            Json.num(st.map(_.tasks.toLong).sum), Json.num(st.map(_.inputBytes).sum),
            Json.num(st.map(_.outputBytes).sum), Json.num(st.map(_.shuffleBytes).sum)))
        }
        s""", "fs": ${Json.obj(opFs.toSeq.map { case (k, v) => k -> Json.num(v) })}""" +
          s""", "op_window": [${Json.num(opWindow._1)}, ${Json.num(opWindow._2)}]""" +
          s""", "spans": ${Json.arr(sp)}, "jobs": ${Json.arr(jobs)}"""
      }
      log(f"unit $i%d traced=$traced ${(t1 - t0) / 1000}%.2f s")
      s"""{"i": $i, "traced": $traced, "t0": ${Json.num(t0)}, "t1": ${Json.num(t1)}""" +
        s""", "s": ${Json.num((t1 - t0) / 1000)}, "steal": ${Json.num(steal)}""" +
        s""", "op_steal": ${Json.num(opSteal)}$payload$tail}"""
    }

    def reads(plan: JValue): Seq[Read] =
      plan.extract[List[Map[String, String]]].map(m => Read(m("id"), m("model"), m("sql")))

    def viewOf(model: String) = s"bench_$model"
    def render(sql: String): String =
      """\{R:(\w+)\}""".r.replaceAllIn(sql, m => viewOf(m.group(1)))

    /** One consumer read: resolve the relation through the engine, then
      * run the query. Returns the JSON record.
      */
    def runRead(e: Engine, r: Read, traced: Boolean,
                mvPath: Option[String] = None): Option[String] =
      try Some(read(e, r, traced, mvPath)) catch {
        case ex: Exception =>
          errors += s"read ${r.id}: ${String.valueOf(ex.getMessage).take(300)}"
          None
      }

    private def read(e: Engine, r: Read, traced: Boolean,
                     mvPath: Option[String]): String = {
      val open0 = CountingLocalFs.opens.get
      val t0 = System.nanoTime()
      val (df, resolveS) = secs(Trace.span("read.resolve") {
        val d = e.readModel(r.model)
        d.createOrReplaceTempView(viewOf(r.model))
        d
      })
      val q = spark.sql(render(r.sql))
      val rows = Trace.span("read.exec")(q.collect())
      val s = (System.nanoTime() - t0) / 1e9
      val result = Canon.rows(q.columns.toSeq, rows.toSeq)
      val extraFields = if (!traced) "" else {
        val opened = CountingLocalFs.opens.get - open0
        val files = df.inputFiles.length
        val hit = mvPath.map(p => s""", "mv_hit": ${scansUnder(q, p)}""").getOrElse("")
        s""", "opened": $opened, "files": $files$hit"""
      }
      s"""{"id": ${Json.str(r.id)}, "model": ${Json.str(r.model)}, "sql": ${Json.str(r.sql)}, """ +
        s""""s": ${Json.num(s)}, "resolve_s": ${Json.num(resolveS)}, "result": ${Json.str(result)}$extraFields}"""
    }

    def scansUnder(q: DataFrame, path: String): Boolean = {
      val files = q.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten
      files.nonEmpty && files.exists(_.contains(path))
    }

    /** Load a project and its target, as `graft build` does: the
      * project.conf `commit_mode` picks the warehouse commit protocol.
      */
    def load(dir: String, root: Path): (graft.run.Project, Target) =
      Trace.span("run.load") {
        val (p, conf) = ProjectLoader.load(dir)
        val mode = conf.get("commit_mode") match {
          case Some("manifest") => CommitMode.Manifest
          case Some("rename") => CommitMode.Rename
          case _ => CommitMode.Auto
        }
        (p, Target(root.toString, threads = threads, commitMode = mode))
      }

    def engine(dir: String, root: Path): Engine = {
      val (p, t) = load(dir, root)
      new Engine(spark, p, t)
    }

    def nodesJson(nodes: Seq[graft.dag.Dag.NodeResult]): String =
      Json.arr(nodes.map(n => Json.arr(Seq(Json.str(n.name), Json.str(n.status),
        Json.num(n.durationMs), Json.str(n.error.getOrElse("").take(300))))))

    def testsJson(tests: Seq[Engine#TestResult]): String =
      Json.arr(tests.map(t => Json.arr(Seq(Json.str(t.name), Json.str(t.status),
        Json.num(t.failures)))))

    /** Traced units only: the layer calls that a build makes implicitly,
      * timed on their own (compile every model, run the built models'
      * tests), and the warehouse's bytes on disk and live.
      */
    def layerCalls(e: Engine, root: Path, built: Seq[String]): String = {
      val (compiled, cs) = secs(Trace.span("compile")(e.compiledModels))
      val (tr, ts) = secs(Trace.span("dqtests")(
        e.project.tests.filter(t => built.contains(t.modelName)).map(e.runTest)))
      s""", "space": [${dirBytes(root)}, ${liveBytes(e, root, built)}]""" +
        s""", "compile": {"s": ${Json.num(cs)}, "models": ${compiled.size}}""" +
        s""", "dqtests": {"s": ${Json.num(ts)}, "count": ${tr.size}, """ +
        s""""failed": ${tr.count(_.status == "error")}}"""
    }

    def export(e: Engine, models: Seq[String]): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val fs = models.map { m =>
          Future {
            val dir = exportDir.resolve(m).toString
            e.readModel(m).write.mode("overwrite").parquet(dir)
            (m, dir)
          }
        }
        fs.foreach(f => exports += Await.result(f, Duration.Inf))
      } finally pool.shutdown()
    }

    def dirBytes(p: Path): Long =
      if (!Files.exists(p)) 0L
      else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum

    def failed(what: String, nodes: Seq[graft.dag.Dag.NodeResult]): Unit = {
      val bad = nodes.filter(_.status != "success")
      if (bad.nonEmpty) errors += s"$what: " +
        bad.map(n => n.name + ": " + n.error.getOrElse("")).mkString("; ").take(500)
    }

    /** Bytes of the files the relations' current reads scan, counting
      * only files under the warehouse root (views read their sources).
      */
    def liveBytes(e: Engine, root: Path, models: Seq[String]): Long =
      models.flatMap(m => scala.util.Try(e.readModel(m).inputFiles.toSeq)
        .getOrElse(Nil)).distinct.map(f => Paths.get(new java.net.URI(f)))
        .filter(p => p.startsWith(root) && Files.exists(p)).map(Files.size).sum

    // -------------------------------------------------------- slim_ci
    def slimCi(): Unit = {
      val baseDir = (plan \ "base_project").extract[String]
      val prDir = Paths.get((plan \ "pr_project").extract[String])
      val edits = (plan \ "edits").extract[List[List[Map[String, String]]]]
      val readCap = (plan \ "reads_per_unit").extract[Int]
      val baseManifest = work.resolve("base_manifest.json").toString
      val baseRoot = work.resolve("wh/base")
      // set-up: the full build of production (the base) and its manifest
      val c0 = cpuStat()
      setupS += secs {
        val e = engine(baseDir, baseRoot)
        failed("base build", e.build()._1)
        e.writeManifest(baseManifest)
      }._2
      setupSteal += stealShare(c0, cpuStat())
      log(f"base build ${setupS.last}%.2f s")
      // production, for the PR's audit reads
      val prod = engine(baseDir, baseRoot)
      val original = scala.collection.mutable.Map.empty[String, String]
      var last: (Engine, Set[String]) = null
      loop { (i, traced) =>
        // the PR: restore the previous edits, apply this iteration's
        original.foreach { case (m, txt) =>
          Files.writeString(prDir.resolve(s"models/$m.sql"), txt) }
        original.clear()
        val ed = edits(i % edits.size)
        ed.foreach { m =>
          val f = prDir.resolve(s"models/${m("name")}.sql")
          original(m("name")) = Files.readString(f)
          Files.writeString(f, m("text"))
        }
        val root = work.resolve(s"wh/pr$i")
        val manifest = work.resolve(s"pr_manifest_$i.json").toString
        val (res, s) = op {
          val e = engine(prDir.toString, root)
          Trace.span("run.manifest")(e.writeManifest(manifest))
          val sel = Trace.span("run.select")(
            StateSelector.modifiedPlus(manifest, baseManifest))
          (e, sel, Trace.span("dag.build")(e.build(Some(sel), deferRoot = Some(baseRoot.toString))))
        }
        val (e, sel, (nodes, tests)) = res
        last = (e, sel)
        val ok = nodes.filter(_.status == "success").map(_.name).toSet
        // audit reads: each rebuilt relation in the PR and in production
        val rr = sel.toSeq.filter(ok).sorted.take(readCap).flatMap { m =>
          val sql = s"SELECT count(*) AS n, CAST(coalesce(sum(amt), 0) AS BIGINT) AS s FROM {R:$m}"
          runRead(e, Read(s"ci$i:$m", m, sql), traced) ++
            runRead(prod, Read(s"prod$i:$m", m, sql), traced)
        }
        val layer = if (traced) layerCalls(e, root, sel.toSeq.filter(ok)) else ""
        s""", "op_s": ${Json.num(s)}, "edit": ${i % edits.size}, "selected": ${sel.size}""" +
          s""", "nodes": ${nodesJson(nodes)}, "tests": ${testsJson(tests)}""" +
          s""", "reads": ${Json.arr(rr)}$layer"""
      }
      val (e, sel) = last
      export(e, sel.toSeq.sorted)
    }

    // --------------------------------------------- incremental_cycles
    def incrementalCycles(): Unit = {
      val dir = (plan \ "project").extract[String]
      val sources = (plan \ "sources").extract[Map[String, String]]
      val base = (plan \ "base").extract[Map[String, String]]
      val batches = (plan \ "batches").extract[List[Map[String, String]]]
      val cycleReads = (plan \ "reads").extract[List[JValue]].map(reads)
      val checks = (plan \ "check_models").extract[List[String]]
      val mv = (plan \ "mv").extract[String]
      val corpus = (plan \ "corpus").extract[String]
      val sample = (plan \ "sample").extract[List[List[String]]].map(l => (l(0), l(1)))
      val opsPerCycle = (plan \ "ops_per_unit").extract[Int]
      val ran = scala.collection.mutable.LinkedHashSet.empty[String]
      val root = work.resolve("wh/inc")
      // set-up: fresh sources holding the base rows, then the first
      // (full) build of the write cone
      val c0 = cpuStat()
      setupS += secs {
        base.foreach { case (src, f) =>
          val d = Paths.get(sources(src))
          Files.createDirectories(d)
          Files.copy(Paths.get(f), d.resolve(Paths.get(f).getFileName))
        }
        failed("initial build", engine(dir, root).build()._1)
      }._2
      setupSteal += stealShare(c0, cpuStat())
      var last: Engine = null
      loop { (i, traced) =>
        val b = batches(i)
        b.foreach { case (src, f) =>
          Files.copy(Paths.get(f), Paths.get(sources(src)).resolve(Paths.get(f).getFileName),
            StandardCopyOption.REPLACE_EXISTING)
        }
        val (res, s) = op {
          val e = engine(dir, root)
          (e, Trace.span("dag.build")(e.build()))
        }
        val (e, (nodes, tests)) = res
        last = e
        val mvPath = e.warehouse.path(e.relationFor(mv))
        val rr = cycleReads(i).flatMap(r =>
          runRead(e, r, traced, if (r.id.endsWith("-mv")) Some(mvPath) else None))
        // the operator consumers: this cycle's slice of the fixed sample
        val or = (0 until opsPerCycle).map(k => sample((i * opsPerCycle + k) % sample.size))
          .map { case (stratum, n) =>
            val (_, s) = secs(Trace.span(s"ops.$stratum")(
              SparkEntry.queries(n)(spark, corpus).count()))
            val staged = graft.ops.SessionCache.drainStaging(spark).map(_._2).sum
            ran += n
            s"""{"id": ${Json.str(s"c$i-op:$n")}, "model": ${Json.str(stratum)}, """ +
              s""""s": ${Json.num(s)}, "staging_s": ${Json.num(staged)}}"""
          }
        val layer = if (traced) layerCalls(e, root, checks) else ""
        s""", "op_s": ${Json.num(s)}, "nodes": ${nodesJson(nodes)}, "tests": ${testsJson(tests)}""" +
          s""", "reads": ${Json.arr(rr ++ or)}$layer"""
      }
      export(last, checks)
      // operator outputs for the oracle check, outside the timed region
      ran.foreach { n =>
        val d = exportDir.resolve(n).toString
        SparkEntry.queries(n)(spark, corpus).write.mode("overwrite").parquet(d)
        exports += n -> d
      }
      extra += "oracle" -> Json.obj(ran.toSeq.map(n => n -> Json.str(SparkEntry.oracleSql(n))))
    }

    // --------------------------------------------------------- output
    def rssPeakMb: Double =
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
        .getOrElse(-1.0)

    def writeResult(): Unit = {
      val body = Json.obj(Seq(
        "workload" -> Json.str(workload),
        "setup_s" -> Json.arr(setupS.map(Json.num(_)).toSeq),
        "setup_steal" -> Json.arr(setupSteal.map(Json.num(_)).toSeq),
        "units" -> Json.arr(units.toSeq),
        "probe_s" -> Json.arr(probeS.map(Json.num(_)).toSeq),
        "rss_peak_mb" -> Json.num(rssPeakMb),
        "exports" -> Json.obj(exports.map { case (k, v) => k -> Json.str(v) }.toSeq),
        "errors" -> Json.arr(errors.map(Json.str).toSeq)) ++ extra.toSeq)
      Files.writeString(work.resolve("result.json"), body)
    }
  }
}

/** Minimal JSON writing (values are pre-rendered strings). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def num(l: Long): String = l.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Order-insensitive canonical text of a small result: columns by name,
  * rows sorted. Reads return integers and strings only; run.py renders
  * the DuckDB rows the same way.
  */
object Canon {
  def rows(cols: Seq[String], rows: Seq[org.apache.spark.sql.Row]): String = {
    val idx = cols.indices.sortBy(i => cols(i).toLowerCase)
    rows.map(r => idx.map(i => String.valueOf(r.get(i)) match {
      case "null" => "None"
      case v => v
    }).mkString("\u0001")).sorted.mkString("\n")
  }
}
