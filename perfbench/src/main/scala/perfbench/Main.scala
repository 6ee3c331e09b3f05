package perfbench

import graft.SparkEntry
import graft.ops.{BuildOnce, Materialize, Scratch}
import graft.sources.{LogLineParser, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** One timed operation as the user experiences it: the query call, the
  * executed plan, and `collect()` of the full result. */
final case class Sample(op: String, pass: Int, totalS: Double, rows: Int,
    digest: String, error: Option[String])

/** The benchmark's JVM side: starts the session, runs one workload over a
  * generated input directory, checks its own correctness conditions, and
  * writes a result file that `run.py` turns into metrics.
  *
  *   Main --workload <w> --data <dir> --seconds <s> --trace <0|1>
  *        --seed <n> --out <result.json> --check <dir> --scratch <dir>
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("scratch"))
      .config("spark.sql.warehouse.dir", a("scratch") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val run = new Run(spark, a("workload"), a("data"), a("seconds").toDouble,
      a("trace") == "1", a("seed").toLong, a("check"), cores)
    val body = run.execute()
    val json = Json.obj(Seq("session_s" -> Json.num(sessionS)) ++ body: _*)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), json)
    spark.stop()
  }
}

final class Run(spark: SparkSession, workload: String, dir: String,
    seconds: Double, traced: Boolean, seed: Long, checkDir: String,
    cores: Int) {

  private val rng = new scala.util.Random(seed)
  private val samples = mutable.ArrayBuffer.empty[Sample]
  private val digests = mutable.LinkedHashMap.empty[String, mutable.Set[String]]
  private val lastRows = mutable.HashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
  private val failures = mutable.LinkedHashMap.empty[String, String]
  private var tracer = new Tracer(false)
  private val counters = new Counters

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Between-operation hygiene, exactly `graft.Bench`'s: drop cached and
    * checkpointed state so each operation runs as an independent job. */
  private def resetState(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Call, plan and collect one registered query; state is reset after
    * the timed span. */
  private def query(name: String, pass: Int): Sample = {
    val s = tracer.span("op", name) {
      val t0 = System.nanoTime()
      try {
        val df = tracer.span("operators.build", name)(SparkEntry.queries(name)(spark, dir))
        tracer.span("spark.plan", name)(df.queryExecution.executedPlan)
        val rows = tracer.span("spark.action", name)(df.collect())
        val elapsed = secs(t0)
        lastRows(name) = (rows, df.schema)
        Sample(name, pass, elapsed, rows.length, Digest.of(df.schema.fieldNames.toSeq, rows.toSeq), None)
      } catch {
        case e: Throwable =>
          Sample(name, pass, secs(t0), 0, "",
            Some(String.valueOf(e.getMessage).linesIterator.take(1).mkString))
      }
    }
    resetState()
    System.err.println(f"[perfbench] pass $pass%d ${s.op}%-36s ${s.totalS}%.3f s" +
      s.error.map(" FAILED: " + _).getOrElse(""))
    s.error.foreach(m => failures.getOrElseUpdate(s.op, s"threw: $m"))
    if (s.error.isEmpty) digests.getOrElseUpdate(s.op, mutable.Set.empty) += s.digest
    s
  }

  private def opList: Seq[String] = workload match {
    case "log_interactive" => Workloads.interactive
    case "curation_batch" => Workloads.curation
    case "artifact_serve" => Workloads.served.map(_.name)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** The pass order: a seeded permutation, except for the curation
    * pipeline, whose stages run in their fixed order. */
  private def passOrder(): Seq[String] =
    if (workload == "curation_batch") opList else rng.shuffle(opList)

  private def pass(k: Int): (Double, Seq[Sample]) = {
    val t0 = System.nanoTime()
    val ss = passOrder().map(query(_, k))
    (secs(t0), ss)
  }

  // ---------------------------------------------------------------- build

  private val artifactInputs = Seq("documents", "embeddings", "events")

  /** Materialize every serving artifact under `tag` and route the serving
    * confs to them; returns (artifact → build seconds, artifact → path). */
  private def buildArtifacts(tag: String): (Seq[(String, Double)], Map[String, String]) = {
    val builds = mutable.ArrayBuffer.empty[(String, Double)]
    val paths = mutable.LinkedHashMap.empty[String, String]
    def step(name: String, path: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      tracer.span("ops.materialize", name)(body)
      builds += name -> secs(t0)
      paths(name) = path
    }
    def p(n: String) = Scratch.dir(s"$tag-$n")
    step("pair_graph", p("pairs"))(Materialize.pairGraph(spark, dir, p("pairs")))
    spark.conf.set("graft.dedup.pairsPath", p("pairs"))
    step("cc_labels", p("cclabels"))(Materialize.ccLabels(spark, dir, p("cclabels")))
    step("lexical_index", p("lex"))(Materialize.lexicalIndex(spark, dir, p("lex")))
    step("feature_store", p("featstore"))(Materialize.featureStore(spark, dir, p("featstore")))
    // the vector indexes live at the per-JVM scratch path the from-index
    // queries look up, so the serving loop reads what this step wrote
    for ((name, kind, build) <- Seq[(String, String, String => Unit)](
        ("ivf_index", "ivf", Materialize.ivfIndex(spark, dir, _)),
        ("pq_index", "pq", Materialize.pqIndex(spark, dir, _)))) {
      val path = BuildOnce.scratchPath(kind, dir)
      step(name, path)(BuildOnce.ensure(path, dir)(build(path)))
    }
    Seq("graft.cc.labelsPath" -> "cclabels", "graft.lex.indexPath" -> "lex",
      "graft.features.storePath" -> "featstore")
      .foreach { case (k, n) => spark.conf.set(k, p(n)) }
    (builds.toSeq, paths.toMap)
  }

  private def bytesUnder(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else f.length
    walk(new java.io.File(path))
  }

  // ------------------------------------------------------------- execute

  def execute(): Seq[(String, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, String)]
    var builds: Seq[(String, Double)] = Nil
    var artifactPaths: Map[String, String] = Map.empty
    if (workload == "artifact_serve") {
      if (traced) { spark.sparkContext.addSparkListener(counters); tracer = new Tracer(true) }
      val t0 = System.nanoTime()
      val (b, ps) = buildArtifacts("bench")
      builds = b; artifactPaths = ps
      out += "batch_s" -> Json.num(secs(t0))
      out += "builds" -> Json.obj(b.map { case (k, v) => k -> Json.num(v) }: _*)
    }
    val buildTrace = if (traced && workload == "artifact_serve") finishTrace() else null
    if (traced && workload == "artifact_serve") spark.sparkContext.removeSparkListener(counters)

    // untimed warm-up: one full pass, so the timed passes run JIT-compiled
    // code over warm file caches (a cold pass is mostly JIT and class
    // loading, and its time varied ~15% between runs)
    val w0 = System.nanoTime()
    pass(0)
    out += "warmup_s" -> Json.num(secs(w0))

    // timed passes until `seconds` have elapsed; a traced run times the
    // one untraced pass it runs between its two traced passes
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val m0 = System.nanoTime()
    val traceOut =
      if (traced) tracedPhase(buildTrace, builds, artifactPaths, passWalls)
      else {
        var k = 1
        do {
          val (wall, ss) = pass(k)
          passWalls += wall
          samples ++= ss
          k += 1
        } while (secs(m0) < seconds)
        Nil
      }
    out += "measured_s" -> Json.num(passWalls.sum)
    out += "passes_s" -> Json.arr(passWalls.map(Json.num).toSeq)
    if (workload != "artifact_serve") out += "batch_s" -> Json.num(median(passWalls.toSeq))
    out ++= traceOut

    checks(out)
    out += "samples" -> Json.arr(samples.toSeq.map { s =>
      Json.obj("op" -> Json.str(s.op), "pass" -> Json.num(s.pass),
        "s" -> Json.num(s.totalS), "ok" -> Json.bool(s.error.isEmpty))
    })
    out += "failures" -> Json.obj(failures.toSeq.map { case (k2, v) => k2 -> Json.str(v) }: _*)
    out += "peak_rss_mb" -> Json.num(peakRssMb())
    out += "cores" -> Json.num(cores)
    out.toSeq
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally status.close()
  }

  // --------------------------------------------------------------- checks

  /** Correctness, off the clock: repetition determinism for every
    * operation, the DuckDB oracle dump for the operations that carry
    * oracle SQL, and served-equals-in-query on the serving workload. */
  private def checks(out: mutable.ArrayBuffer[(String, String)]): Unit = {
    digests.foreach { case (op, ds) =>
      if (ds.size > 1) failures.getOrElseUpdate(op, s"digest differs across repetitions (${ds.size} distinct)")
    }
    new java.io.File(checkDir).mkdirs()
    val oracleSql = SparkEntry.oracleSql
    if (workload == "artifact_serve") {
      // every served result must equal the same query run in-query
      Workloads.served.flatMap(_.route).distinct.foreach(spark.conf.unset)
      Workloads.served.foreach { s =>
        if (!failures.contains(s.name) && lastRows.contains(s.name)) {
          val (rows, schema) = lastRows(s.name)
          try {
            val df = SparkEntry.queries(s.inQuery)(spark, dir)
            val want = df.collect()
            val dw = Digest.of(df.schema.fieldNames.toSeq, want.toSeq)
            val dg = Digest.of(schema.fieldNames.toSeq, rows.toSeq)
            if (dw != dg) failures(s.name) = s"served result differs from in-query ${s.inQuery} ($dg vs $dw)"
          } catch {
            case e: Throwable => failures(s.name) = s"in-query ${s.inQuery} threw: ${e.getMessage}"
          }
          resetState()
        }
      }
      out += "oracle" -> Json.arr(Nil)
      return
    }
    val names = lastRows.keys.toSeq.sorted.filter(n => oracleSql.contains(n) && !failures.contains(n))
    names.foreach { n =>
      try {
        val (rows, schema) =
          if (Workloads.hashLeaf(n)) {
            spark.conf.set(graft.ops.Fns.Md5ModeConf, "true")
            try {
              val df = SparkEntry.queries(n)(spark, dir)
              (df.collect(), df.schema)
            } finally spark.conf.unset(graft.ops.Fns.Md5ModeConf)
          } else lastRows(n)
        val jrows = java.util.Arrays.asList(rows: _*)
        spark.createDataFrame(jrows, schema).coalesce(1).write.mode("overwrite")
          .parquet(s"$checkDir/$n")
      } catch {
        case e: Throwable => failures(n) = s"oracle dump threw: ${e.getMessage}"
      }
      resetState()
    }
    val sqlJson = Json.obj(names.filterNot(failures.contains).map(n => n -> Json.str(oracleSql(n))): _*)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$checkDir/oracle_sql.json"), sqlJson)
    out += "oracle" -> Json.arr(names.filterNot(failures.contains).map(Json.str))
  }

  // -------------------------------------------------------------- tracing

  private def finishTrace(wall: Double = 0.0): TraceData = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val calls = tracer.spans
    val jobs = counters.snapshot().map { j =>
      j -> Trace.innermostAt(calls, tracer.fromWallMs(j.startMs))
    }
    var id = calls.map(_.id).foldLeft(0)(math.max) + 1
    val jobSpans = jobs.map { case (j, parent) =>
      id += 1
      Span(id, parent.map(_.id).getOrElse(0), "spark.job", parent.map(_.op).getOrElse(""),
        tracer.fromWallMs(j.startMs), tracer.fromWallMs(j.endMs))
    }
    val d = TraceData(calls ++ jobSpans, jobs, wall)
    tracer.clear(); counters.clear()
    d
  }

  private def tracedPass(k: Int): (TraceData, Seq[Sample]) = {
    tracer = new Tracer(true)
    spark.sparkContext.addSparkListener(counters)
    val (wall, ss) = pass(k)
    val d = finishTrace(wall)
    spark.sparkContext.removeSparkListener(counters)
    tracer = new Tracer(false)
    (d, ss)
  }

  /** The traced run: two traced passes (per-layer numbers, the exact-count
    * repeat check) around one untraced timed pass (the tracing overhead is
    * the traced passes' mean wall against it), then the layer probes. */
  private def tracedPhase(buildTrace: TraceData, builds0: Seq[(String, Double)],
      paths0: Map[String, String], passWalls: mutable.ArrayBuffer[Double]): Seq[(String, String)] = {
    val (a, sa) = tracedPass(101)
    val (untracedWall, su) = pass(1)
    passWalls += untracedWall
    samples ++= su
    val (b, sb) = tracedPass(102)
    val m = mutable.LinkedHashMap.empty[String, Double]
    val both = Seq(a, b)
    def perPass(f: TraceData => Double): Double = both.map(f).sum / both.size
    def layerS(d: TraceData, layer: String) = d.spans.filter(_.layer == layer).map(_.dur).sum / 1e9
    def jobsIn(d: TraceData, layer: String) = d.jobs.count(_._2.exists(_.layer == layer)).toDouble
    def sumJ(d: TraceData)(f: JobRecord => Double) = d.jobs.map(x => f(x._1)).sum
    def infer(j: JobRecord) = j.firstStage.startsWith("parquet at Tables.scala")

    m("sources.infer_jobs") = perPass(d => d.jobs.count(x => infer(x._1)).toDouble)
    m("sources.infer_s") = perPass(d => d.jobs.filter(x => infer(x._1)).map(x => (x._1.endMs - x._1.startMs) / 1e3).sum)
    m("operators.build_s") = perPass(layerS(_, "operators.build"))
    m("operators.build_jobs") = perPass(jobsIn(_, "operators.build"))
    m("operators.build_share") = perPass(d => layerS(d, "operators.build") / math.max(1e-9, layerS(d, "op")))
    m("spark.plan_s") = perPass(layerS(_, "spark.plan"))
    m("spark.action_s") = perPass(layerS(_, "spark.action"))
    m("spark.jobs") = perPass(_.jobs.size.toDouble)
    m("spark.stages") = perPass(d => sumJ(d)(_.stages))
    m("spark.tasks") = perPass(d => sumJ(d)(_.tasks))
    m("spark.task_s") = perPass(d => sumJ(d)(_.taskMs) / 1e3)
    m("spark.task_wait_s") = perPass(d => sumJ(d)(_.waitMs) / 1e3)
    m("spark.core_busy_share") = perPass(d => sumJ(d)(_.taskMs) / 1e3 / (cores * d.wall))
    m("spark.shuffle_read_bytes") = perPass(d => sumJ(d)(_.shuffleRead.toDouble))
    m("spark.shuffle_write_bytes") = perPass(d => sumJ(d)(_.shuffleWrite.toDouble))
    m("spark.spill_bytes") = perPass(d => sumJ(d)(_.spill.toDouble))
    m("spark.gc_s") = perPass(d => sumJ(d)(_.gcMs) / 1e3)
    m("spark.task_failures") = perPass(d => sumJ(d)(_.failures))
    val self = both.map(d => Trace.selfByLayer(d.spans))
    Seq("op", "operators.build", "spark.plan", "spark.action", "spark.job").foreach { l =>
      m(s"trace.self_s.$l") = self.map(_.getOrElse(l, 0.0)).sum / both.size
    }
    m("trace.overhead_share") = (perPass(_.wall) - untracedWall) / untracedWall

    // exact-count repeat check: per operation, jobs, stages, tasks,
    // shuffle bytes and rows must repeat exactly between the two passes
    def counts(d: TraceData): Map[String, Seq[Long]] =
      d.jobs.groupBy(_._2.map(_.op).getOrElse("")).map { case (op, js) =>
        op -> Seq(js.size.toLong, js.map(_._1.stages.toLong).sum, js.map(_._1.tasks.toLong).sum,
          js.map(_._1.shuffleRead).sum, js.map(_._1.shuffleWrite).sum)
      }
    val rowsOf = (sa ++ sb).groupBy(s => (s.op, s.pass)).map { case (k, v) => k -> v.head.rows.toLong }
    val ca = counts(a); val cb = counts(b)
    val ops = (ca.keySet ++ cb.keySet).filter(_.nonEmpty)
    val mismatched = ops.toSeq.sorted.filter { op =>
      ca.get(op) != cb.get(op) || rowsOf.get(op -> 101) != rowsOf.get(op -> 102)
    }
    m("trace.count_mismatch_ops") = mismatched.size.toDouble

    m ++= probes(buildTrace, builds0, paths0)
    Seq("layers" -> Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "count_mismatches" -> Json.arr(mismatched.map { op =>
        Json.str(s"$op: ${ca.get(op).map(_.mkString("/")).getOrElse("-")} vs " +
          s"${cb.get(op).map(_.mkString("/")).getOrElse("-")} (jobs/stages/tasks/shuffle_read/shuffle_write)")
      }))
  }

  // --------------------------------------------------------------- probes

  private def medianOf3(f: => Double): Double = median(Seq(f, f, f))

  private def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; secs(t0)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Seeded raw log lines for the parser probe. */
  private def logLines(n: Int): (Seq[String], Seq[String]) = {
    val r = new scala.util.Random(seed * 31 + 7)
    val levels = Array("INFO", "WARN", "ERROR", "DEBUG")
    val log4j = (0 until n).map { i =>
      f"2024-01-${1 + r.nextInt(28)}%02d ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d," +
        f"${r.nextInt(1000)}%03d ${levels(r.nextInt(4))} [main] org.apache.hadoop.mapred.JobTracker: " +
        f"Starting job job_202401_${r.nextInt(10000)}%04d task $i"
    }
    val jh = (0 until n).map { _ =>
      f"""Job JOBID="job_202401_${r.nextInt(10000)}%04d" FINISH_TIME="${1704067200 + r.nextInt(2592000)}" """ +
        s"""JOB_STATUS="${if (r.nextInt(10) == 0) "FAILED" else "SUCCESS"}" TOTAL_MAPS="${r.nextInt(500)}""""
    }
    (log4j, jh)
  }

  /** Per-layer probes from outside the program: table open, log parsing,
    * the native expressions, and the artifact builds. */
  private def probes(buildTrace: TraceData, builds0: Seq[(String, Double)],
      paths0: Map[String, String]): Seq[(String, Double)] = {
    import spark.implicits._
    val m = mutable.ArrayBuffer.empty[(String, Double)]
    val opens: Seq[String => DataFrame] = Tables.Names.map {
      case "events" => (d: String) => Tables.events(spark, d)
      case n => (d: String) => Tables.table(spark, d, n)
    }
    m += "sources.open_s" -> medianOf3(timeS(opens.foreach(_(dir))))
    val n = 20000
    val (l4, jh) = logLines(n)
    val l4df = l4.toDF("value").cache(); val jhdf = jh.toDF("value").cache()
    l4df.count(); jhdf.count()
    m += "sources.parse_lines_per_s" -> medianOf3(2.0 * n / timeS {
      noop(LogLineParser.parseLog4j(l4df)); noop(LogLineParser.parseJobHistory(jhdf))
    })

    graft.plans.GraftFunctions.register(spark)
    graft.plans.SignatureFunctions.register(spark)
    val hs = Tables.documents(spark, dir)
      .selectExpr("array_distinct(transform(split(text, ' '), w -> xxhash64(w))) AS hs").cache()
    val nDocs = hs.count().toDouble
    m += "plans.minhash_rows_per_s" -> medianOf3(nDocs / timeS(noop(hs.selectExpr("graft_minhash_sig(hs) AS s"))))
    m += "plans.simhash_rows_per_s" -> medianOf3(nDocs / timeS(noop(hs.selectExpr("graft_simhash_sig(hs) AS s"))))
    val vecs = Tables.embeddings(spark, dir).filter(col("vec_id") < 600).select("vec_id", "embedding").cache()
    val nv = vecs.count().toDouble
    val pairs = vecs.as("a").crossJoin(vecs.as("b"))
      .selectExpr("graft_cosine(a.embedding, b.embedding) AS c")
    m += "plans.cosine_pairs_per_s" -> medianOf3(nv * nv / timeS(noop(pairs)))
    m += "plans.jobhistory_rows_per_s" -> medianOf3(n / timeS(noop(jhdf.selectExpr("graft_jobhistory_attrs(value) AS a"))))
    Seq(l4df, jhdf, hs, vecs).foreach(_.unpersist(blocking = true))

    // the ops layer: the serving workload traced its real build; the
    // others build the same artifacts here, traced
    val (bt, builds, paths) =
      if (buildTrace != null) (buildTrace, builds0, paths0)
      else {
        tracer = new Tracer(true)
        spark.sparkContext.addSparkListener(counters)
        val (b, p) = buildArtifacts("probe")
        val d = finishTrace()
        spark.sparkContext.removeSparkListener(counters)
        tracer = new Tracer(false)
        (d, b, p)
      }
    builds.foreach { case (k, v) => m += s"ops.materialize_s.$k" -> v }
    m += "ops.materialize_jobs" -> bt.jobs.count(_._2.exists(_.layer == "ops.materialize")).toDouble
    val inputBytes = artifactInputs.map(t => bytesUnder(s"$dir/$t.parquet")).sum
    m += "ops.artifact_bytes_per_input_byte" -> paths.values.map(bytesUnder).sum.toDouble / inputBytes

    // share of served queries whose executed plan scans their artifact
    val marker: Map[String, String] = Map(
      "graft.dedup.pairsPath" -> "pair_graph", "graft.cc.labelsPath" -> "cc_labels",
      "graft.lex.indexPath" -> "lexical_index", "graft.features.storePath" -> "feature_store")
    val vecMarker = Map("ann_ivf_from_index" -> "ivf_index", "ann_pq_from_index" -> "pq_index",
      "ann_ivfpq_from_index" -> "ivf_index")
    val reads = Workloads.served.count { s =>
      val art = s.route.map(marker).getOrElse(vecMarker(s.name))
      try {
        val df = SparkEntry.queries(s.name)(spark, dir)
        df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
          .contains(new java.io.File(paths(art)).getName)
      } catch { case _: Throwable => false }
      finally resetState()
    }
    m += "ops.serve_reads_artifact_share" -> reads.toDouble / Workloads.served.size
    m.toSeq
  }
}

/** Spans and jobs of one traced stretch of work, jobs attached as
  * `spark.job` spans under the call span open when each started. */
final case class TraceData(spans: Seq[Span], jobs: Seq[(JobRecord, Option[Span])], wall: Double)

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
