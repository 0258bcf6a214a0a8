package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{GraftExtensions, SparkEntry, Tables}
import graft.functions.{TextHash, TopKAgg, VectorExpressions}
import graft.ops

/** One benchmark run of one workload, in one JVM, in a closed loop: each
  * query starts only after the previous one has finished.
  *
  *  1. Set the session up [[Setups]] times (the last one is kept).
  *  2. Warm the JIT and code generation up with an untimed cold pass
  *     of the whole sequence over the inputs.
  *  3. Repeat cycles until `--seconds` have passed, and at least
  *     [[Workloads.minCycles]] times: a cold reset, a cold pass, then a
  *     warm pass with caches and index left standing.
  *  4. With `--trace 1`, time the module probes and the trace-only
  *     queries ([[Workloads.traceOnly]]).
  *  5. Write the answers of the last passes under `--out` for the check.
  *
  * Writes `result.json` (medians over cycles), `oracle_sql.json` and
  * `spans.jsonl` to `--out`.
  */
object Main {
  /** Session set-ups per run; `setup_s` is their median. */
  private val Setups = 5
  /** Local cores (`local[Cpus]`) and shuffle partitions. */
  private val Cpus = 4

  private final case class Opts(workload: String, data: String,
      seconds: Double, trace: Boolean, work: String, out: String,
      runId: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(get("workload"), get("data"), get("seconds").toDouble,
      get("trace") == "1", get("work"), get("out"),
      m.getOrElse("run-id", "run"))
  }

  private final case class Answer(schema: StructType, rows: Array[Row])

  private final case class QTime(build: Double, plan: Double, exec: Double) {
    def total: Double = build + plan + exec
  }

  /** What one pass measured. */
  private final case class Pass(wall: Double, times: Map[String, QTime],
      answers: Map[String, Answer], tasks: TaskTotals,
      plan: Map[String, Double])

  /** Wall-clock spans (name, parent, start, end), kept in memory and
    * written once when the run ends. */
  private final class Spans(runId: String) {
    private val t0 = System.nanoTime()
    private val rows = mutable.ArrayBuffer.empty[String]
    private var next = 0
    def apply[T](name: String, parent: Int)(body: Int => T): (T, Double) = {
      next += 1
      val id = next
      val start = System.nanoTime()
      val r = try body(id) finally {
        val end = System.nanoTime()
        rows += f"""{"run":"$runId","id":$id,"name":"$name",""" +
          f""""parent":$parent,"start_s":${(start - t0) / 1e9}%.6f,""" +
          f""""end_s":${(end - t0) / 1e9}%.6f}"""
      }
      (r, (System.nanoTime() - start) / 1e9)
    }
    def write(p: Path): Unit = Files.write(p, rows.asJava)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally st.close()
    }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally st.close()
  }

  /** A JSON string literal. */
  private def js(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val seq = Workloads.sequences.getOrElse(o.workload,
      sys.error(s"unknown workload ${o.workload}"))
    val extras = if (o.trace) Workloads.traceOnly(o.workload) else Nil
    val work = Paths.get(o.work).toAbsolutePath
    val out = Paths.get(o.out).toAbsolutePath
    Files.createDirectories(out)
    val spans = new Spans(o.runId)
    val inputs = Files.list(Paths.get(o.data)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted

    // ---- 1. session set-up, timed several times; the last one is kept
    def newSession(): SparkSession = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    val setups = (1 to Setups).map { i =>
      val ((s, start), total) = spans("setup", 0) { _ =>
        val t0 = System.nanoTime()
        val s = newSession()
        val start = (System.nanoTime() - t0) / 1e9
        Seq("cosine_distance", "euclidean_distance", "top_k_by", "fnv1a64")
          .foreach(f => require(s.catalog.functionExists(f), s"$f missing"))
        inputs.foreach(p => s.read.parquet(p).schema)
        (s, start)
      }
      if (i < Setups) s.stop()
      (s, start, total)
    }
    val spark = setups.last._1
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    // listener events reach the collector asynchronously; untraced runs
    // neither register it nor wait for the bus to drain
    val collector = new Collector
    if (o.trace) {
      sc.addSparkListener(collector)
      spark.listenerManager.register(collector)
    }
    def drain(): Unit = if (o.trace) Bus.drain(sc)

    val n = {
      val e = Paths.get(o.data, "embeddings.parquet")
      if (Files.exists(e)) Tables.footerRowCount(spark, e.toString) else 0L
    }
    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val indexRoot = work.resolve("index")

    /** Clear every graft cache reachable from outside the engine and point
      * the ANN index root at a fresh directory. Not reachable, so warm
      * across the cold passes of one session: `Ann.fpCache` and
      * `Tables.tsTypeCache` (private), and the blocks that `Ann`'s Lloyd
      * rounds and `Nsw`'s build pin with `localCheckpoint`, which stay
      * stored until their RDDs are garbage-collected. */
    def coldReset(name: String): Path = {
      ops.Knn.clearCache()
      ops.Ann.clearCache()
      ops.Nsw.clearCache()
      ops.Graph.clearCache()
      ops.TextOps.clearCache()
      ops.Quality.clearCache()
      deleteTree(indexRoot)
      val dir = indexRoot.resolve(name)
      spark.conf.set(ops.Ann.IndexDirConf, dir.toString)
      dir
    }

    /** One pass over `queries`; each query is three spans: `build`
      * (calling the op function, which may already write an index),
      * `plan` (forcing the executed plan) and `exec` (`collect()`, which
      * runs that same QueryExecution). */
    def pass(name: String, queries: Seq[String], trace: Boolean): Pass = {
      drain()
      collector.roll()
      collector.takePlanMetrics()
      collector.tracing = trace
      val times = mutable.LinkedHashMap.empty[String, QTime]
      val answers = mutable.LinkedHashMap.empty[String, Answer]
      val (_, wall) = spans(name, 0) { pid =>
        queries.foreach { q =>
          collector.label = q
          attempted += 1
          spans(q, pid) { qid =>
            try {
              val (df, b) = spans("build", qid)(_ => SparkEntry.queries(q)(spark, o.data))
              val (_, p) = spans("plan", qid)(_ => df.queryExecution.executedPlan)
              val (rows, x) = spans("exec", qid)(_ => df.collect())
              times(q) = QTime(b, p, x)
              answers(q) = Answer(df.schema, rows)
            } catch { case e: Throwable =>
              failures += s"$name $q: ${e.getClass.getSimpleName}: ${e.getMessage}"
            }
            if (trace) drain()
          }
        }
      }
      drain()
      collector.tracing = false
      Pass(wall, times.toMap, answers.toMap, collector.roll(),
        collector.takePlanMetrics())
    }

    /** Per-query span metrics of a traced pass. */
    def perQuery(p: Pass): Map[String, Double] = p.times.toSeq.flatMap {
      case (q, t) =>
        val pre = s"${Workloads.module(q)}.$q"
        Seq(s"$pre.build_s" -> t.build, s"$pre.plan_s" -> t.plan,
          s"$pre.exec_s" -> t.exec)
    }.toMap

    // ---- 2. untimed warm-up: the whole sequence as a cold pass over the
    // real inputs, so that the JIT has compiled every query's code and
    // the paths only large inputs take (sort spill, the aggregate's sort
    // fallback) before the first timed pass. After a warm-up on small
    // inputs the first measured cold pass ran ~30% slower than later ones.
    coldReset("warmup")
    pass("warmup", seq, trace = false)

    // ---- 3. cold/warm cycles until the measuring time is used up
    val cycles = mutable.ArrayBuffer.empty[Map[String, Double]]
    val answers = mutable.LinkedHashMap.empty[String, Map[String, Answer]]
    val measureStart = System.nanoTime()
    while (cycles.size < Workloads.minCycles(o.workload) ||
        (System.nanoTime() - measureStart) / 1e9 < o.seconds) {
      val idx = coldReset(s"c${cycles.size}")
      val cold = pass(s"cold${cycles.size}", seq, o.trace)
      val cached = sc.getRDDStorageInfo.filter(_.isCached)
      val indexBytes = dirBytes(idx)
      val warm = pass(s"warm${cycles.size}", seq, trace = false)
      answers("cold") = cold.answers
      answers("warm") = warm.answers

      val ct = cold.tasks
      val m = mutable.LinkedHashMap[String, Double](
        "cold_s" -> cold.wall, "warm_s" -> warm.wall)
      if (o.trace) {
        def planSum(metric: String, labels: Seq[String] = seq): Double =
          labels.map(l => cold.plan.getOrElse(s"$l|$metric", 0.0)).sum
        def total(p: Pass, q: String) = p.times.get(q).map(_.total).getOrElse(0.0)
        for (p <- Seq("analysis", "optimization", "planning"))
          m(s"catalyst.${p}_s") = planSum(s"catalyst.${p}_s")
        for (t <- Seq("scan_rows", "scan_bytes", "scan_s"))
          m(s"tables.$t") = planSum(s"tables.$t")
        m ++= perQuery(cold)
        val knnQs = seq.filter(Workloads.module(_) == "knn")
        if (knnQs.nonEmpty) {
          // the ranked set is the workload's only cached relation: its
          // joins are the pair scan that feeds the top-k cut
          val pairs = planSum("cached_join_rows", knnQs)
          m("knn.pairs_scored") = pairs
          m("knn.pairs_scored_ratio") = if (n > 1) pairs / (n * (n - 1.0)) else 0.0
          m("knn.cut_spill_bytes") = planSum("spill_bytes", knnQs)
          m("knn.sort_fallback_tasks") = planSum("sort_fallback_tasks", knnQs)
        }
        m("cache.persisted_rdds") = cached.length
        m("cache.persisted_bytes") = cached.map(r => r.memSize + r.diskSize).sum
        m("cache.saving_s") = cold.wall - warm.wall
        if (seq.contains("ann_index_build")) {
          m("ann.build_s") = total(cold, "ann_index_build")
          m("ann.upsert_s") = total(cold, "ann_index_upsert")
          m("ann.index_bytes") = indexBytes
          m("ann.probe_s") = total(warm, "ann_ivf_topk_indexed") +
            total(warm, "ann_ivf_topk_upserted")
        }
        m ++= Seq[(String, Double)]("spark.jobs" -> ct.jobs,
          "spark.stages" -> ct.stages, "spark.tasks" -> ct.tasks,
          "spark.task_cpu_s" -> ct.cpuNs / 1e9, "spark.gc_s" -> ct.gcMs / 1e3,
          "spark.shuffle_write_bytes" -> ct.shuffleWrite,
          "spark.shuffle_read_bytes" -> ct.shuffleRead,
          "spark.spill_mem_bytes" -> ct.spillMem,
          "spark.spill_disk_bytes" -> ct.spillDisk,
          "spark.disk_write_mb" -> ct.diskWriteBytes / 1e6,
          "spark.peak_task_mem_mb" -> ct.peakTaskMem / 1e6,
          "trace.cold_s" -> cold.wall, "trace.warm_s" -> warm.wall)
      }
      cycles += m.toMap
    }
    val result = mutable.LinkedHashMap.empty[String, Double]
    cycles.flatMap(_.keys).distinct.foreach { k =>
      result(k) = median(cycles.flatMap(_.get(k)).toSeq)
    }
    result("setup_s") = median(setups.map(_._3))

    // ---- 4. traced run only: session split, probes, trace-only queries
    if (o.trace) {
      result("session.start_s") = median(setups.map(_._2))
      result("session.register_s") = median(setups.map(s => s._3 - s._2))
      result ++= probes(spark, o.data)
      if (extras.nonEmpty) {
        coldReset("extras")
        val x = pass("extras", extras, trace = true)
        answers("cold") ++= x.answers
        result ++= perQuery(x)
        x.times.get("ann_nsw_topk_indexed").foreach { t =>
          result("nsw.build_s") = t.build
          result("nsw.search_s") = t.plan + t.exec
        }
        x.times.get("ann_ivfpq_topk").foreach(t => result("ann.ivfpq_s") = t.total)
      }
    }
    deleteTree(indexRoot)

    // ---- 5. answers for the check, written outside every timed region
    spans("answers", 0) { _ =>
      for ((kind, as) <- answers; (q, a) <- as)
        spark.createDataFrame(a.rows.toSeq.asJava, a.schema).coalesce(1)
          .write.mode("overwrite")
          .parquet(out.resolve("answers").resolve(kind).resolve(q).toString)
    }
    spans.write(out.resolve("spans.jsonl"))
    val oracles = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"), (seq ++ extras)
      .filter(oracles.contains)
      .map(q => s"${js(q)}:${js(oracles(q))}").mkString("{", ",", "}"))
    def list(xs: Iterable[String]) = xs.map(js).mkString("[", ",", "]")
    val json = s"""{"workload":${js(o.workload)},"cycles":${cycles.size},""" +
      s""""layers":${list(Workloads.layers(o.workload))},""" +
      s""""attempted":$attempted,"failed":${failures.size},""" +
      s""""failures":${list(failures)},""" +
      s""""answers":${answers.map { case (k, v) => s"${js(k)}:${list(v.keys)}" }
        .mkString("{", ",", "}")},""" +
      s""""metrics":${result.map { case (k, v) => s"${js(k)}:$v" }
        .mkString("{", ",", "}")}}"""
    Files.writeString(out.resolve("result.json"), json)
    spark.stop()
  }

  /** Probe calls into single functions, over the workload's own inputs. */
  private def probes(s: SparkSession, data: String): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double]
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    if (Files.exists(Paths.get(data, "embeddings.parquet"))) {
      val e = Tables.embeddings(s, data)
      val n = Tables.footerRowCount(s, s"$data/embeddings.parquet").toDouble
      val q = e.repartition(Tables.parallelism(s), col("vec_id"))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("cv"),
        col("label").as("clabel"))
      val pairs = q.crossJoin(broadcast(c)).where(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"), col("clabel"),
          VectorExpressions.cosine_distance(s, col("qv"), col("cv")).as("dist"))
      m("functions.cosine_pairs_per_s") =
        n * (n - 1) / secs(pairs.agg(sum(col("dist"))).collect())
      m("functions.topk_by_rows_per_s") = n * (n - 1) / secs(noop(
        pairs.groupBy(col("qid")).agg(TopKAgg.top_k_by(s, col("dist"),
          col("cid"), col("clabel"), ops.Knn.K).as("nbrs"))))
    }
    if (Files.exists(Paths.get(data, "documents.parquet"))) {
      val docs = Tables.repartitioned(Tables.documents(s, data), s)
      val n = Tables.footerRowCount(s, s"$data/documents.parquet").toDouble
      m("functions.shingle_docs_per_s") = n / secs(docs.agg(sum(size(
        TextHash.shingle_id_set(col("text"), lit(ops.TextOps.ShingleK)))))
        .collect())
    }
    m.toMap
  }
}
