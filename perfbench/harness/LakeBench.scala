package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.etl.{Ingest, Schemas}
import graft.functions.{TextOps, VectorOps}

/** One benchmark run in one JVM, driven by a plan file that `run.py`
  * writes: `LakeBench run <plan.json>` (or `oracle <plan.json>` for
  * the DuckDB twins of the plan's keys).
  *
  * A run starts the session, warms it with one untimed pass, then runs
  * the plan's ops one after another from this thread — a
  * closed loop with one client — and writes per-op timings, checks and
  * layer counters to the plan's `out` file. Only the op itself is
  * timed; the correctness check of each op follows it, untimed.
  */
object LakeBench {
  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = json.readTree(new File(args(1)))
    args(0) match {
      case "run" => run(plan)
      case "oracle" => // the DuckDB twin of each listed key
        val sql = SparkEntry.oracleSql
        val keys = plan.get("keys").elements.asScala.map(_.asText).toSeq
        Files.writeString(Paths.get(plan.get("out").asText), json.writeValueAsString(
          toJava(keys.filter(sql.contains).map(k => k -> sql(k)).toMap)))
    }
    sys.exit(0)
  }

  // ------------------------------------------------------------ session

  private def session(plan: JsonNode): SparkSession = {
    val s = plan.get("session")
    val conf = s.get("conf").properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap
    val b = SparkSession.builder().master(s.get("master").asText)
    conf.foreach { case (k, v) => b.config(k, v) }
    b.config("spark.local.dir", plan.get("local_dir").asText)
    b.config("spark.sql.warehouse.dir", plan.get("warehouse_dir").asText)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Fail loudly on drift: what the live session runs with must be
    // exactly what BENCHMARK's session block declares.
    val live = spark.sparkContext.getConf
    val drift = conf.collect {
      case (k, v) if spark.conf.getOption(k).orElse(live.getOption(k)) != Some(v) =>
        s"$k=${spark.conf.getOption(k).orElse(live.getOption(k))} (want $v)"
    } ++ Seq(s"master=${spark.sparkContext.master}")
      .filter(_ => spark.sparkContext.master != s.get("master").asText) ++
      Seq("-Xms", "-Xmx").map(_ + s.get("heap").asText).filterNot(jvmArgs.contains)
        .map(a => s"$a absent from ${jvmArgs.mkString(" ")}")
    require(drift.isEmpty, s"session config drift: ${drift.mkString(", ")}")
    spark
  }

  private def jvmArgs: Seq[String] =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq

  // ---------------------------------------------------------------- ops

  /** What one op did besides its wall time. `shape` is, for a key op,
    * whether the key's plan ends in a Sort and its output columns. */
  final case class OpResult(id: Int, name: String, wallS: Double,
      phases: Map[String, Double], ok: Boolean, error: String,
      rows: Long, extra: Map[String, Double],
      startMs: Long, endMs: Long, spans: Seq[(String, Long, Long)],
      shape: Option[(Boolean, Seq[String])] = None)

  private def now(): Long = System.nanoTime()
  private def wallMs(ns: Long, t0ns: Long, t0ms: Long): Long =
    t0ms + (ns - t0ns) / 1000000L

  private def queryExecution(df: DataFrame): Option[QueryExecution] = df match {
    case d: org.apache.spark.sql.classic.Dataset[_] => Some(d.queryExecution)
    case _ => None
  }

  private def phases(df: DataFrame): Map[String, Double] = queryExecution(df)
    .map(_.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }).getOrElse(Map.empty)

  /** Runs an op's timed action between the markers that let the
    * tracker record the plans the action executed. */
  private def timed[T](sc: SparkContext, id: Int)(action: => T): T = {
    PerfbenchBus.post(sc, TimedAction(id, open = true))
    try action finally PerfbenchBus.post(sc, TimedAction(id, open = false))
  }

  /** A key op: build the key's DataFrame and collect every row. */
  private def keyOp(spark: SparkSession, lake: String, id: Int,
                    op: JsonNode): OpResult = {
    val key = op.get("key").asText
    val t0ms = System.currentTimeMillis(); val t0 = now()
    var t1 = t0
    try {
      val df = SparkEntry.queries(key)(spark, lake)
      t1 = now()
      val rows = timed(spark.sparkContext, id)(df.collect())
      val t2 = now()
      val exp = op.get("expect")
      val ok = rows.length == exp.get("rows").asLong &&
        Canon.digest(df.columns, rows) == exp.get("digest").asText
      OpResult(id, key, (t2 - t0) / 1e9, phases(df), ok,
        if (ok) "" else s"digest mismatch: ${rows.length} rows, expected ${exp.get("rows").asLong}",
        rows.length,
        Map("queries.build_s" -> (t1 - t0) / 1e9, "queries.materialize_s" -> (t2 - t1) / 1e9),
        t0ms, wallMs(t2, t0, t0ms),
        Seq(("queries.build", t0ms, wallMs(t1, t0, t0ms)),
            ("queries.materialize", wallMs(t1, t0, t0ms), wallMs(t2, t0, t0ms))),
        Some((queryExecution(df).exists(qe => Tracker.finalSort(qe.analyzed).isDefined),
          df.columns.toSeq)))
    } catch { case NonFatal(e) =>
      val t2 = now()
      OpResult(id, key, (t2 - t0) / 1e9, Map.empty, ok = false,
        s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}",
        0, Map.empty, t0ms, wallMs(t2, t0, t0ms), Nil)
    }
  }

  private val schemas = Map("events" -> Schemas.events,
    "orders" -> Schemas.orders, "lineitem" -> Schemas.lineitem)

  /** Running totals of what the staged tables must hold. */
  private val staged = mutable.Map.empty[String, Array[Long]]

  private def files(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else Files.walk(dir.toPath).iterator.asScala.map(_.toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq

  /** An ingest op: one landed CSV object → sanitized, date-partitioned
    * snappy parquet appended to the staged table → catalog → check. */
  private def ingestOp(spark: SparkSession, plan: JsonNode, id: Int,
                       op: JsonNode, trace: Boolean, prefix: String = ""): OpResult = {
    val table = prefix + op.get("table").asText
    val Array(key, money, ts) =
      plan.get("tables").get(op.get("table").asText).elements.asScala.map(_.asText).toArray
    val path = s"${plan.get("staged").asText}/$table"
    val before = if (trace) files(new File(path)).map(_.getPath).toSet else Set.empty[String]
    val t0ms = System.currentTimeMillis(); val t0 = now()
    var marks = Vector(t0)
    def mark(): Unit = marks :+= now()
    try {
      val raw = Ingest.readCsv(spark, s"${plan.get("landing").asText}/${op.get("file").asText}",
        schemas(op.get("table").asText))
      val df = Ingest.withDatePartitions(Ingest.sanitizeColumnNames(raw), ts)
      mark()
      Ingest.writeParquet(df, path, partitionColumns = Seq("p_year", "p_month"),
        saveMode = SaveMode.Append)
      mark()
      // The staged table tracks its partitions in the catalog, as the
      // reference's Glue table does: add the new ones, drop stale listings.
      if (!spark.catalog.tableExists(table)) spark.catalog.createTable(table, path, "parquet")
      spark.catalog.recoverPartitions(table)
      spark.catalog.refreshTable(table)
      mark()
      val check = spark.table(table).agg(count(lit(1)), sum(col(key)),
        expr(s"sum(floor($money * 100))"), expr(s"sum(unix_seconds($ts))"),
        count_if(col(key).isNull))
      val got = check.collect()(0)
      mark()
      val want = staged.getOrElseUpdate(table, Array.fill(4)(0L))
      Seq("rows", "key_sum", "cents_sum", "secs_sum").zipWithIndex.foreach {
        case (f, i) => want(i) += op.get(f).asLong }
      val seen = (0 until 4).map(i => if (got.isNullAt(i)) -1L else got.getLong(i))
      val ok = seen == want.toSeq && got.getLong(4) == 0L
      val ms = marks.map(wallMs(_, t0, t0ms))
      val written = if (trace) files(new File(path)).filterNot(f => before(f.getPath)) else Nil
      OpResult(id, op.get("file").asText, (marks.last - t0) / 1e9, phases(check), ok,
        if (ok) "" else s"staged $table holds ${seen.mkString("/")}, expected " +
          s"${want.mkString("/")} with ${got.getLong(4)} malformed",
        got.getLong(0),
        Map("etl.write_parquet_s" -> (marks(2) - marks(1)) / 1e9,
          "etl.register_s" -> (marks(3) - marks(2)) / 1e9,
          "etl.check_s" -> (marks(4) - marks(3)) / 1e9,
          "etl.rows_malformed" -> got.getLong(4).toDouble,
          "etl.partitions_touched" -> written.map(_.getParent).distinct.size.toDouble,
          "write.files" -> written.size.toDouble),
        t0ms, ms.last,
        Seq(("etl.prepare", ms(0), ms(1)), ("etl.write_parquet", ms(1), ms(2)),
            ("etl.register", ms(2), ms(3)), ("etl.check", ms(3), ms(4))))
    } catch { case NonFatal(e) =>
      val t2 = now()
      OpResult(id, op.get("file").asText, (t2 - t0) / 1e9, Map.empty, ok = false,
        s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}",
        0, Map.empty, t0ms, wallMs(t2, t0, t0ms), Nil)
    }
  }

  // ---------------------------------------------------------------- run

  /** Untimed set-up after the session starts: every key of the run
    * once (codegen, fixture staging, session memos), or for ingest one
    * landed object into a table of its own, so timed ops start warm. */
  private def warmUp(spark: SparkSession, plan: JsonNode, ingest: Boolean): Unit =
    if (ingest) ingestOp(spark, plan, -1, plan.get("ops").get(0), trace = false, prefix = "warmup_")
    else plan.get("ops").elements.asScala.map(_.get("key").asText).toSeq.distinct.foreach { k =>
      val t0 = now()
      SparkEntry.queries(k)(spark, plan.get("lake").asText).collect()
      System.err.println(f"[perfbench] warm pass: $k ${(now() - t0) / 1e9}%.2f s")
    }

  private def run(plan: JsonNode): Unit = {
    val mainMs = System.currentTimeMillis()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val trace = plan.get("trace").asBoolean
    val ingest = plan.get("workload").asText == "lake_ingest"
    // Set-up: JVM start -> session -> warm pass -> first timed op.
    val spark = session(plan)
    val tracker = new Tracker
    spark.sparkContext.addSparkListener(tracker)
    spark.streams.addListener(tracker.streams)
    val sessionMs = System.currentTimeMillis()
    warmUp(spark, plan, ingest)
    PerfbenchBus.drain(spark.sparkContext)
    val readyMs = System.currentTimeMillis()
    val sc = spark.sparkContext
    val lake = plan.get("lake").asText
    val results = mutable.ArrayBuffer.empty[OpResult]
    val perOp = mutable.ArrayBuffer.empty[Map[String, Double]]
    var persisted = sc.getPersistentRDDs.keySet
    var cachedPeak = 0.0
    plan.get("ops").elements.asScala.zipWithIndex.foreach { case (op, id) =>
      tracker.current = id
      sc.setJobGroup(s"op-$id", s"perfbench op $id", interruptOnCancel = false)
      val res = if (ingest) ingestOp(spark, plan, id, op, trace)
                else keyOp(spark, lake, id, op)
      sc.clearJobGroup()
      results += res
      if (!res.ok) System.err.println(s"[perfbench] op $id ${res.name} FAILED: ${res.error}")
      // Drained after every op, outside its timing, so that streaming
      // jobs and progress (which carry no op job group) are charged to
      // the op still current when they are delivered.
      PerfbenchBus.drain(sc)
      if (trace) {
        val now = sc.getPersistentRDDs.keySet
        val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
        cachedPeak = math.max(cachedPeak, cached)
        perOp += Map("storage.new_persisted_rdds" -> (now -- persisted).size.toDouble,
          "storage.cached_bytes" -> cached)
        persisted = now
      }
      tracker.current = -1
    }
    PerfbenchBus.drain(sc)
    val stagedBytes = if (!ingest) 0L else plan.get("tables").fieldNames.asScala.toSeq
      .flatMap(t => files(new File(s"${plan.get("staged").asText}/$t"))).map(_.length).sum
    val functions = if (trace) functionCosts(spark, lake) else Map.empty[String, Double]
    val persistedRdds = sc.getPersistentRDDs.size
    val cores = sc.defaultParallelism
    spark.stop()
    val tmpLeft = dirBytes(new File(plan.get("tmp_root").asText))

    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("setup", Map("jvm_to_main_s" -> (mainMs - jvmStartMs) / 1e3,
      "session_s" -> (sessionMs - mainMs) / 1e3, "warm_pass_s" -> (readyMs - sessionMs) / 1e3))
    out.put("ops", results.map { r =>
      val counters = tracker.of(r.id).toMap
      Map("id" -> r.id, "name" -> r.name, "wall_s" -> r.wallS, "ok" -> r.ok,
        "error" -> r.error, "rows" -> r.rows,
        "plans" -> r.phases, "layers" -> (counters ++ r.extra ++ perOp.lift(r.id).getOrElse(Map.empty))) ++
        r.shape.map(s => "full_plan" -> fullPlan(s, tracker.actionsOf(r.id)))
    }.toSeq)
    out.put("no_job_s", results.map(r => noJobSeconds(r, tracker)).toSeq)
    out.put("staged_bytes", stagedBytes)
    out.put("storage", Map("cached_bytes_peak" -> cachedPeak, "persisted_rdds" -> persistedRdds))
    out.put("functions", functions)
    out.put("tmp_bytes_left", tmpLeft)
    out.put("peak_rss_mb", peakRssMb())
    out.put("cores", cores)
    Files.writeString(Paths.get(plan.get("out").asText), json.writeValueAsString(toJava(out)))
    if (trace) {
      val spans = results.flatMap { r =>
        (("op", r.startMs, r.endMs) +: r.spans).map { case (n, s, e) =>
          Map("name" -> n, "start_ms" -> s, "end_ms" -> e, "op" -> r.id) }
      } ++ tracker.jobs.filter(_.op >= 0).map(j => Map("name" -> "scheduler.job",
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "op" -> j.op)) ++
        tracker.triggers.filter(_._1 >= 0).map { case (op, s, d) =>
          Map("name" -> "streaming.trigger", "start_ms" -> s, "end_ms" -> (s + d), "op" -> op) }
      Files.writeString(Paths.get(plan.get("spans").asText),
        json.writeValueAsString(toJava(spans.toSeq)))
    }
  }

  /** Op wall not covered by any of its Spark jobs. */
  private def noJobSeconds(r: OpResult, t: Tracker): Double = {
    val iv = t.jobs.filter(_.op == r.id)
      .map(j => (math.max(j.startMs, r.startMs), math.min(j.endMs, r.endMs)))
      .filter(p => p._2 > p._1).sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    iv.foreach { case (s, e) =>
      val from = math.max(s, end)
      if (e > from) { covered += e - from; end = e }
    }
    math.max(0.0, (r.endMs - r.startMs - covered) / 1e3)
  }

  /** ns per row of each custom expression over the lake's corpus,
    * evaluated into a noop sink, less the same plan without it. */
  private def functionCosts(spark: SparkSession, lake: String): Map[String, Double] = {
    val docs = spark.read.parquet(s"$lake/documents.parquet")
      .select(col("text"), split(col("text"), " ").as("toks"))
      .withColumn("toks2", slice(col("toks"), 2, 1 << 20))
      .persist(StorageLevel.MEMORY_ONLY)
    val embs = spark.read.parquet(s"$lake/embeddings.parquet")
      .select(col("embedding").as("emb"))
      .withColumn("nrm", VectorOps.l2norm(col("emb")))
      .crossJoin(spark.range(5)).drop("id").persist(StorageLevel.MEMORY_ONLY)
    try {
      val nDocs = docs.count(); val nEmbs = embs.count()
      val dim = embs.head().getSeq[Float](0).length
      val rnd = new scala.util.Random(7)
      val cents = Array.fill(16, dim)(rnd.nextGaussian())
      val cnorms = cents.map(c => math.sqrt(c.map(x => x * x).sum))
      val planes = Array.fill(8, 16, dim)(rnd.nextGaussian())
      def secs(df: DataFrame): Double = (1 to 3).map { _ =>
        val t0 = now()
        df.write.format("noop").mode("overwrite").save()
        (now() - t0) / 1e9
      }.min
      val docBase = secs(docs.select("text", "toks", "toks2"))
      val embBase = secs(embs.select("emb", "nrm"))
      def cost(name: String, onDocs: Boolean, c: org.apache.spark.sql.Column): (String, Double) = {
        val (df, base, n) = if (onDocs) (docs, docBase, nDocs) else (embs, embBase, nEmbs)
        s"functions.$name.ns_per_row" -> (secs(df.select(c)) - base) * 1e9 / n
      }
      Map(cost("minhashSig", true, TextOps.minhashSig(col("toks"), 64)),
        cost("simhashBands", true, TextOps.simhashBands(col("toks"))),
        cost("wordNGrams", true, TextOps.wordNGrams(col("text"), 3)),
        cost("unicodeNorm", true, TextOps.unicodeNorm(col("text"))),
        cost("intersectSize", true, TextOps.intersectSize(col("toks"), col("toks2"))),
        cost("dot", false, VectorOps.dot(col("emb"), col("emb"))),
        cost("bestCentroid", false, VectorOps.bestCentroid(col("emb"), col("nrm"), cents, cnorms)),
        cost("signBuckets", false, VectorOps.signBuckets(col("emb"), planes)))
    } finally { docs.unpersist(); embs.unpersist() }
  }

  // -------------------------------------------------------------- guard

  /** Full-plan guard: the op's timed window ran exactly one SQL action,
    * and that action's optimized plan keeps the key's final Sort and
    * returns all of the key's columns, so nothing was pruned away. */
  private def fullPlan(shape: (Boolean, Seq[String]), actions: Seq[ActionPlan]): Map[String, Any] = {
    val (sorted, columns) = shape
    val ok = actions match {
      case Seq(a) => a.columns == columns && (a.keepsSort || !sorted)
      case _ => false
    }
    Map("ok" -> ok, "final_sort" -> sorted,
      "actions" -> actions.map(a => s"${a.name}(sort=${a.keepsSort}, ${a.columns.size} columns)"))
  }

  // ------------------------------------------------------------ helpers

  private def dirBytes(f: File): Long =
    if (!f.exists) 0L
    else Files.walk(f.toPath).iterator.asScala.map(_.toFile).filter(_.isFile).map(_.length).sum

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }; out
    case m: java.util.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.asScala.foreach { case (k, x) => out.put(k.toString, toJava(x)) }; out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }
}
