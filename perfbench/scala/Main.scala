package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType, VariantType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The benchmark's JVM side: runs one plan written by `perfbench/run.py`
  * and writes every raw observation to a JSON file; the Python side
  * checks outputs and derives the metrics.
  *
  * Usage: `perfbench.Main <plan.json> <result.json>`
  *
  * A plan is one of
  *  - `prep`: write the corpora it lists (see [[Corpus]]);
  *  - `run`: set up, then run a query list (`fixture_mix`,
  *    `scan_scale`) or a lake operation stream (`lake_dml`) one item
  *    at a time in one session, each item in its own job group under a
  *    deadline, with the untimed sweep between items. */
object Main {
  private implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    val plan = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(args(0))), "UTF-8"))
    val result = (plan \ "mode").extract[String] match {
      case "prep" => prep(plan)
      case "run" => new Run(plan).apply()
    }
    Files.write(Paths.get(args(1)), Json(result).getBytes("UTF-8"))
  }

  /** The session `graft.Bench` builds, key for key, with the work
    * directory substituted for the machine-wide temp locations. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.cteRecursionRowLimit", "32000000")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config(graft.operators.Scale.CheckpointDirKey, s"$work/ckpt")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def prep(plan: JValue): Map[String, Any] = {
    val cores = (plan \ "cores").extract[Int]
    val work = (plan \ "work").extract[String]
    val spark = session(cores, work)
    val done = (plan \ "corpora").extract[List[JValue]].map { c =>
      val dir = (c \ "dir").extract[String]
      val t0 = System.nanoTime()
      Corpus.write(spark, dir, (c \ "scale").extract[Double],
        (c \ "files").extract[Int])
      dir -> (System.nanoTime() - t0) / 1e9
    }
    spark.stop()
    Map("prep_s" -> done.toMap)
  }

  def duBytes(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.size(p)).toMap
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach((p: Path) => Files.deleteIfExists(p))
  }

  private def containsUnhashable(t: DataType): Boolean = t match {
    case _: MapType | _: VariantType => true
    case ArrayType(e, _) => containsUnhashable(e)
    case StructType(fs) => fs.exists(f => containsUnhashable(f.dataType))
    case _ => false
  }

  /** The timed action of a query item: materialize every row and column
    * of the result and fold them into an order-independent hash, so
    * one action both pays for the full result and yields a value that
    * must repeat in every pass. */
  def resultHash(df: DataFrame): (Long, String) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = d.schema.fields.toSeq.map { f =>
      if (containsUnhashable(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = d.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L))),
        bit_xor(col("h"))).head()
    (r.getLong(0), s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}")
  }

  def vmHwmMb(): Double =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
        .getOrElse(0.0)
    } catch { case NonFatal(_) => 0.0 }
}

/** One `run` plan. */
final class Run(plan: JValue) {
  import Main._
  private implicit val formats: Formats = DefaultFormats

  private val workload = (plan \ "workload").extract[String]
  private val cores = (plan \ "cores").extract[Int]
  private val work = (plan \ "work").extract[String]
  private val corpus = (plan \ "corpus").extract[String]
  private val seconds = (plan \ "seconds").extract[Double]
  private val deadlineS = (plan \ "deadline_s").extract[Double]
  // the run's wall budget from here: items still due once it is spent
  // fail as `not run`, and a running item's deadline never outlasts it
  private val budgetS = (plan \ "budget_s").extract[Double]
  private val born = System.nanoTime()
  private val minWarm = (plan \ "min_warm").extract[Int]
  private val trace = (plan \ "trace").extract[Int] == 1
  private val lakeDir = s"$work/lake"
  private val lakeTable = "bench.ns.t"

  private var spark: SparkSession = _
  private var fixtures = Set.empty[Int]
  private val input = new InputCounter
  private val tracer = if (trace) Some(new Tracer(cores)) else None
  private var drain: BusDrain = _
  private val timer = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-deadline"); t.setDaemon(true); t }
  private var groupSeq = 0

  /** Setup: session start, warm-up action, then the workload's fixture
    * cache or table creation. */
  private def setUp(): Unit = {
    spark = session(cores, work)
    spark.range(1000).selectExpr("sum(id)").collect()
    workload match {
      case "fixture_mix" =>
        Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings")
          .foreach(n => graft.Tables.t(spark, corpus, n).cache().count())
        graft.Tables.events(spark, corpus).cache().count()
      case "lake_dml" =>
        deleteTree(lakeDir)
        spark.conf.set("spark.sql.catalog.bench", "graft.sources.GraftCatalog")
        (plan \ "setup_sql").extract[List[String]].foreach(spark.sql(_).collect())
      case _ =>
    }
    fixtures = spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  /** Untimed, between items: release operator pins, drop every cached
    * RDD that is not a fixture, delete finished checkpoints. */
  private def sweep(): Unit = {
    graft.operators.Scale.releasePins()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!fixtures.contains(id)) rdd.unpersist(blocking = true)
    }
    graft.operators.Scale.reapCheckpoints(spark)
  }

  private val NotRun = "not run: the run's time budget was spent"

  private final case class Outcome(sec: Double, ok: Boolean, reason: String,
      value: Any, startMs: Long, endMs: Long)

  private def budgetLeft: Double = budgetS - (System.nanoTime() - born) / 1e9

  /** Runs `body` in its own job group under the deadline (the item's
    * deadline or the end of the run's budget, whichever comes first); a
    * timer cancels the group (interrupting tasks) every second once the
    * deadline has passed, so loops that keep submitting jobs stop too. */
  private def guarded(label: String)(body: => Any): Outcome = {
    val limitS = math.min(deadlineS, budgetLeft)
    if (limitS <= 0) {
      val now = System.currentTimeMillis()
      return Outcome(0.0, ok = false, NotRun, null, now, now)
    }
    groupSeq += 1
    val group = s"perfbench-$groupSeq"
    val sc = spark.sparkContext
    val expired = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    val tick = timer.scheduleAtFixedRate(() => {
      if (System.nanoTime() - t0 > limitS * 1e9) {
        expired.set(true); sc.cancelJobGroup(group)
      }
    }, 1000L, 1000L, TimeUnit.MILLISECONDS)
    sc.setJobGroup(group, label, interruptOnCancel = true)
    val startMs = System.currentTimeMillis()
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    tick.cancel(false)
    sc.clearJobGroup()
    res match {
      case Right(v) if !expired.get => Outcome(sec, ok = true, "", v, startMs, endMs)
      case Right(v) => Outcome(sec, ok = false, "timeout", v, startMs, endMs)
      case Left(_) if expired.get => Outcome(sec, ok = false, "timeout", null, startMs, endMs)
      case Left(e) => Outcome(sec, ok = false,
        s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}",
        null, startMs, endMs)
    }
  }

  private def ckptMb(): Double = duBytes(s"$work/ckpt").values.sum / 1048576.0

  /** Closes an item: drains the bus, reads its input bytes and (traced)
    * its layer record, then sweeps. */
  private def finish(o: Outcome, item: String, pass: Int, in0: Long,
      extra: (String, Any)*): mutable.LinkedHashMap[String, Any] = {
    drain()
    val rec = mutable.LinkedHashMap[String, Any]("item" -> item,
      "pass" -> pass, "sec" -> o.sec, "ok" -> o.ok, "reason" -> o.reason,
      "input_mb" -> (input.bytes.get - in0) / 1048576.0)
    extra.foreach(kv => rec += kv)
    tracer.foreach { t =>
      val layers = t.close(item, pass, o.startMs, o.endMs)
      layers("operators.persisted_rdds") = spark.sparkContext
        .getPersistentRDDs.keySet.count(id => !fixtures.contains(id)).toDouble
      layers("operators.ckpt_mb") = ckptMb()
      rec("layers") = layers
    }
    sweep()
    rec
  }

  private def begin(): Long = { tracer.foreach(_.open()); input.bytes.get }

  def apply(): Map[String, Any] = {
    val setupS = (1 to (plan \ "setup_reps").extract[Int]).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      setUp()
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    drain = new BusDrain(sc)
    sc.addSparkListener(input)
    tracer.foreach { t =>
      sc.addSparkListener(t); spark.listenerManager.register(t) }
    val cacheMb = sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    val env = Json.obj(
      "spark_version" -> spark.version,
      "java_version" -> sys.props("java.version"),
      "java_vm" -> sys.props("java.vm.name"),
      "default_parallelism" -> sc.defaultParallelism,
      "conf" -> collection.immutable.TreeMap(spark.conf.getAll.toSeq: _*))

    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val (execs, extra) = workload match {
      case "lake_dml" => lake(() => elapsed)
      case _ => queries(() => elapsed)
    }
    val measured = elapsed
    val out = Map[String, Any]("env" -> env, "setup_s" -> setupS,
      "cache_mb" -> cacheMb, "measured_s" -> measured, "execs" -> execs,
      "peak_rss_mb" -> vmHwmMb()) ++ extra
    tracer.foreach { t =>
      Files.write(Paths.get(s"$work/spans.jsonl"),
        t.spans.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    spark.stop()
    timer.shutdownNow()
    out
  }

  private def queries(elapsed: () => Double)
      : (Seq[Any], Map[String, Any]) = {
    val registry = graft.SparkEntry.registry.map(q => q.name -> q).toMap
    val items = (plan \ "items").extract[List[String]]
    val execs = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    def pass(p: Int): Unit = items.foreach { name =>
      val in0 = begin()
      var buildS = 0.0
      val o = guarded(name) {
        val q = registry.getOrElse(name,
          throw new NoSuchElementException(s"$name is not registered"))
        val b0 = System.nanoTime()
        val df = q.fn(spark, corpus)
        buildS = (System.nanoTime() - b0) / 1e9
        resultHash(df)
      }
      val (rows, hash) = Option(o.value.asInstanceOf[(Long, String)])
        .getOrElse((-1L, ""))
      execs += finish(o, name, p, in0, "hash" -> hash, "rows" -> rows,
        "build_s" -> buildS)
    }
    pass(0)
    var warm = 0
    var last = 0.0
    while (warm < minWarm || elapsed() + last <= seconds) {
      val s = elapsed()
      warm += 1
      pass(warm)
      last = elapsed() - s
    }
    // untimed output check: every query with an oracle writes its result
    // once more, as parquet, for the DuckDB comparison
    val outDir = s"$work/out"
    val checks = items.distinct
      .filter(n => registry.get(n).exists(_.oracle.isDefined))
      .map { name =>
        val o = guarded(s"check $name") {
          registry(name).fn(spark, corpus).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        drain(); sweep()
        Json.obj("item" -> name, "ok" -> o.ok, "reason" -> o.reason,
          "oracle" -> registry(name).oracle.get)
      }
    (execs.toSeq, Map("checks" -> checks))
  }

  private def lake(elapsed: () => Double): (Seq[Any], Map[String, Any]) = {
    val ops = (plan \ "ops").extract[List[JValue]]
    val execs = mutable.ArrayBuffer[Any]()
    var files = duBytes(lakeDir)
    def kindOf(i: Int) = (ops(i) \ "kind").extract[String]
    val minOps = (plan \ "min_ops").extract[Int]
    var done = 0
    var stop = false
    // a commit and the scan that follows it are one step: stop only at
    // a step boundary, once the time is up and the first `minOps`
    // operations (whole blocks, so every kind has warm executions) ran
    while (!stop && done < ops.size &&
        (elapsed() < seconds || done < minOps || kindOf(done) == "scan")) {
      val kind = kindOf(done)
      val sql = (ops(done) \ "sql").extract[String]
      val in0 = begin()
      val o = guarded(kind)(spark.sql(sql).collect().toSeq.map(_.toSeq.map {
        case null => null
        case v => v.toString
      }))
      val now = duBytes(lakeDir)
      val added = now.filter { case (n, _) => !files.contains(n) }
      files = now
      val planned = if (kind == "scan")
        graft.sources.LakeSource.lastPlannedFiles.get().size else -1
      val rec = finish(o, kind, done, in0,
        "result" -> (if (kind == "scan") o.value else null),
        "files_written" -> added.size, "bytes_written" -> added.values.sum,
        "files_planned" -> planned)
      execs += rec
      // once the budget is spent the rest of the stream is not run: this
      // record is its failure, and `ops_done` keeps the replay to the
      // operations that ran
      if (o.reason == NotRun) stop = true else done += 1
    }
    val finalRow = spark.sql((plan \ "final_sql").extract[String]).collect()
      .head.toSeq.map(v => if (v == null) null else v.toString)
    val detail = spark.sql(s"DESCRIBE DETAIL $lakeTable").collect().head
    (execs.toSeq, Map("lake" -> Json.obj(
      "ops_done" -> done,
      "final" -> finalRow,
      "files_live" -> detail.getAs[Int]("files"),
      "snapshot_bytes" -> detail.getAs[Long]("bytes"),
      "dir_bytes" -> duBytes(lakeDir).values.sum)))
  }
}
