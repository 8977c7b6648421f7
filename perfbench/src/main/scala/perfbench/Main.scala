package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.{ExtQueries, SparkEntry}
import graft.ml.{CrimePipeline, Serve}

/** The benchmark's JVM side. One process per run:
  *
  *  - `gen <dataDir> <sf>`: write the input tables ([[DataGen]]).
  *  - `oracle <out.json>`: dump the oracle SQL of every workload query.
  *  - `classes <dataDir> <expected.json>`: load what the workloads load,
  *     untimed, then exit (run.py dumps a class-data archive from it).
  *  - `run <workload> <seed> <seconds> <trace> <dataDir> <expected.json>
  *     <out.json>`: set up, measure, check, and write the raw record that
  *     `run.py` turns into metrics.
  *
  * Every call into the program goes through its public functions and is
  * timed from outside: `SparkEntry.queries(name)(spark, dir)` (build),
  * `df.queryExecution.executedPlan` (plan), `df.collect()` (exec, which
  * runs the plan just built), `CrimePipeline.fit` and `Serve.predictOne`.
  */
object Main {

  /** The exact-path corpus family: q238 builds and writes the index, pair
    * and cluster state; q244/q249 dedup a stream through streaming/
    * against it; q248 runs the upsert → retract → recluster chain. */
  val DedupOwners: Seq[String] = Seq("q238")
  val DedupConsumers: Seq[String] = Seq("q244", "q249", "q248")

  val QueryWorkload = "dedup_lifecycle"
  val Workloads = Seq(QueryWorkload, "crime_ml")

  // Every count below depends on `seconds` only, never on this host's
  // speed, so every run does the same work. Passes and requests keep
  // getting faster for a while after warm-up (the second timed pass is
  // often 5-15% faster than the first; requests fall from ~0.9 s to
  // ~0.6 s over their first thirty); a count that varied with speed
  // would move the medians by more than the run-to-run noise.

  /** Untimed query passes before the timed ones, part of set-up: each
    * query's first run in the JVM takes ~1.7x a warm one. */
  val WarmPasses = 1

  /** Timed query passes: `seconds` over the warm time of one pass on
    * the reference host (10 s), and at least two. */
  def timedPasses(seconds: Double): Int =
    math.max(2, math.round(seconds / 10).toInt)

  /** Untimed requests after the untimed warm-up fit, part of set-up. */
  val WarmRequests = 10

  /** Requests sent at least, so the median has ten samples beyond it. */
  val MinRequests = 20

  /** Timed requests: `seconds` over the warm latency of one request on
    * the reference host (0.6 s), at least [[MinRequests]]. */
  def timedRequests(seconds: Double): Int =
    math.max(MinRequests, math.round(seconds / 0.6).toInt)

  def fullName(prefix: String): String =
    SparkEntry.queries.keys.find(_.startsWith(prefix + "_"))
      .getOrElse(sys.error(s"no registered query $prefix"))

  /** Query order of one pass: fixed, the owner before the consumers that
    * read its state. */
  lazy val QueryOrder: Seq[String] =
    (DedupOwners ++ DedupConsumers).map(fullName)

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: dir :: sf :: Nil =>
      val spark = session()
      try DataGen.write(spark, Paths.get(dir), sf.toDouble)
      finally spark.stop()
    case "oracle" :: out :: Nil =>
      writeJson(Paths.get(out),
        QueryOrder.map(n => n -> SparkEntry.oracleSql(n)).toMap)
    case "classes" :: dir :: expected :: Nil =>
      new Run(session(), QueryWorkload, 0L, 0.0, false, dir,
        readStrings(Paths.get(expected))).loadClasses()
      Runtime.getRuntime.halt(0) // dumps the archive, like an exit
    case "run" :: workload :: seed :: seconds :: trace :: dir :: expected ::
        out :: Nil =>
      require(Workloads.contains(workload), s"unknown workload $workload")
      val spark = session()
      val sessionMs = System.currentTimeMillis()
      try {
        val rec = Map("jvm_start_epoch_ms" -> java.lang.management
            .ManagementFactory.getRuntimeMXBean.getStartTime,
          "session_epoch_ms" -> sessionMs) ++ new Run(spark, workload,
          seed.toLong, seconds.toDouble, trace == "1", dir,
          readStrings(Paths.get(expected))).run()
        writeJson(Paths.get(out), rec)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Runtime.getRuntime.halt(1)
      }
      // The record is on disk and the pass deleted its scratch; Spark's
      // remaining files live in java.io.tmpdir, which run.py removes.
      // Skipping SparkContext.stop() saves ~1-2 s of every run.
      Runtime.getRuntime.halt(0)
    case _ =>
      System.err.println("usage: gen <dir> <sf> | oracle <out> | " +
        "classes <dir> <expected> | " +
        "run <workload> <seed> <seconds> <trace> <dir> <expected> <out>")
      sys.exit(2)
  }

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .config("spark.sql.warehouse.dir",
        Paths.get(sys.props("java.io.tmpdir"), "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private implicit val formats: Formats = DefaultFormats

  def writeJson(p: Path, v: AnyRef): Unit =
    Files.writeString(p, Serialization.write(v))

  def readStrings(p: Path): Map[String, String] =
    JsonMethods.parse(Files.readString(p)).extract[Map[String, String]]

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val paths = Files.walk(p)
    try paths.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally paths.close()
  }

  /** Peak resident set of this process (VmHWM), in kB. */
  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
}

/** One checked call and its outcome: `ok` is false when it raised;
  * `correct` is None until its output is checked; `timed` is false for
  * the queries of an untimed warm-up pass. */
final class OpRec(val name: String, val kind: String, val timed: Boolean) {
  var ok = false
  var correct: Option[Boolean] = None
  var phases = Map.empty[String, Double]
  def latencyMs: Double = phases.values.sum
  def render: Map[String, Any] = Map("name" -> name, "kind" -> kind,
    "timed" -> timed, "ok" -> ok, "correct" -> correct.map(Boolean.box).orNull,
    "latency_ms" -> latencyMs) ++ phases
}

/** One measured run of one workload. */
final class Run(spark: SparkSession, workload: String, seed: Long,
    seconds: Double, traced: Boolean, dir: String,
    expected: Map[String, String]) {

  private val trace =
    new Trace(if (traced) Some(new Counters(spark.sparkContext)) else None)
  private val ops = scala.collection.mutable.ArrayBuffer.empty[OpRec]
  private val problems = Seq.newBuilder[String]
  private val scratchRoot = Paths.get("target", "scratch")

  private def problem(msg: String): Unit = {
    problems += msg
    System.err.println(s"[perfbench] $msg")
  }

  /** Release what a query pinned, as `graft.Bench` does after each query. */
  private def release(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** Wall clock at the first timed call: the end of set-up. */
  private var firstTimedMs = 0L

  def run(): Map[String, Any] = {
    val (passes, extra) = workload match {
      case "crime_ml" => crimeMl()
      case _ => queryPasses()
    }
    val base = trace.spans.headOption.fold(0L)(_.startNs)
    Map("workload" -> workload, "seed" -> seed, "traced" -> traced,
      "first_timed_epoch_ms" -> firstTimedMs,
      "pass_ms" -> passes, "ops" -> ops.map(_.render),
      "problems" -> problems.result(),
      "peak_rss_kb" -> Main.peakRssKb(),
      "drain_ms" -> trace.drainNs / 1e6,
      "spans" -> trace.spans.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "start_ms" -> (s.startNs - base) / 1e6,
        "dur_ms" -> (s.endNs - s.startNs) / 1e6, "counts" -> s.counts))
    ) ++ extra
  }

  /** One phase-split call: build → plan → exec. Returns the op and, when
    * it did not raise, the frame and its collected rows. */
  private def op(name: String, kind: String, timed: Boolean = true)(
      build: => DataFrame): (OpRec, Option[(DataFrame, Array[Row])]) = {
    val rec = new OpRec(name, kind, timed)
    ops += rec
    def inPhase[T](phase: String)(body: => T): T = {
      val (out, ns) = trace.span(s"$name.$phase", phase, leaf = true)(body)
      rec.phases += (s"${phase}_ms" -> ns / 1e6)
      out
    }
    val result = try {
      trace.span(name, kind) {
        val df = inPhase("build")(build)
        inPhase("plan")(df.queryExecution.executedPlan)
        Some(df -> inPhase("exec")(df.collect()))
      }._1
    } catch {
      case e: Throwable =>
        problem(s"$name raised ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
    rec.ok = result.isDefined
    (rec, result)
  }

  /** Query passes, each over the workload's queries with fresh `ext`
    * state: the owner rebuilds its scratch, every query's pins are
    * released, the pass's scratch directories are deleted after it. The
    * first [[Main.WarmPasses]] passes are untimed warm-up, part of
    * set-up; then [[Main.timedPasses]] timed ones. Every pass's results
    * are checked against their oracle hashes; checks are excluded from
    * pass times. */
  private def queryPasses(): (Seq[Double], Map[String, Any]) = {
    val n = Main.WarmPasses + Main.timedPasses(seconds)
    val passes = (0 until n).map { i =>
      if (i == Main.WarmPasses) firstTimedMs = System.currentTimeMillis()
      queryPass(i)
    }
    (passes.drop(Main.WarmPasses).map(_._1), Map(
      "warmup_pass_ms" -> passes.take(Main.WarmPasses).map(_._1),
      "scratch_bytes_on_disk" -> passes.map(_._2),
      "check_ms" -> passes.map(_._3).sum / 1e6))
  }

  /** Pass `i`: its time without checks (ms), the bytes its scratch held
    * on disk before deletion, and the checks' nanoseconds. */
  private def queryPass(i: Int): (Double, Long, Long) = {
    var checkNs = 0L
    val timed = i >= Main.WarmPasses
    val (_, passNs) = trace.span(s"pass$i", if (timed) "pass" else "warmup") {
      ExtQueries.resetSharedScratch()
      Main.QueryOrder.foreach { name =>
        val (rec, result) =
          op(name, "query", timed)(SparkEntry.queries(name)(spark, dir))
        result.foreach { case (df, rows) =>
          val t0 = System.nanoTime()
          val got = Canon.hash(df.schema, rows)
          rec.correct = Some(expected.get(name).contains(got))
          if (!rec.correct.get) problem(s"$name result hash $got differs " +
            s"from the oracle's ${expected.getOrElse(name, "(none)")}")
          checkNs += System.nanoTime() - t0
        }
        release()
      }
    }
    // this process's scratch dirs only: their names carry the pid
    val pid = s"_${ProcessHandle.current().pid()}_"
    val mine =
      if (!Files.isDirectory(scratchRoot)) Seq.empty[Path]
      else {
        val s = Files.list(scratchRoot)
        try s.iterator().asScala
          .filter(_.getFileName.toString.contains(pid)).toSeq
        finally s.close()
      }
    val bytes = mine.map(dirBytes).sum
    mine.foreach(Main.deleteTree)
    ((passNs - checkNs) / 1e6, bytes, checkNs)
  }

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
    finally s.close()
  }

  /** Request inputs: seeded draws from a deterministic pool of test rows
    * (the split is by year, the same in every fit). */
  private final class Requests(test: DataFrame) {
    val cols = (spark.read.parquet(s"$dir/lineitem.parquet").columns ++
      spark.read.parquet(s"$dir/part.parquet").columns).map(col).toSeq
    val raw = test.select(cols: _*)
    private val pool = raw.orderBy(cols: _*).limit(4000).collect()
    private val rnd = new scala.util.Random(seed)
    def next(): (Row, DataFrame) = {
      val row = pool(rnd.nextInt(pool.length))
      (row, spark.createDataFrame(java.util.List.of(row), raw.schema))
    }
  }

  /** Untimed: a fit and `requests` requests on its model. */
  private def crimeWarmUp(requests: Int): Option[Requests] = try {
    val (model, train, test) = CrimePipeline.fit(spark, dir)
    val reqs = new Requests(test)
    (1 to requests).foreach { _ =>
      Serve.predictOne(spark, model, reqs.next()._2, train).collect()
    }
    release()
    Some(reqs)
  } catch {
    case e: Throwable =>
      problem(s"warm-up fit raised ${e.getClass.getSimpleName}: ${e.getMessage}")
      None
  }

  /** One untimed query pass, fit and request: the classes both workloads
    * load, for a class-data archive dumped when the JVM exits. */
  def loadClasses(): Unit = {
    queryPass(0)
    crimeWarmUp(1)
  }

  /** Set-up: [[crimeWarmUp]] with [[Main.WarmRequests]] requests. Timed:
    * one fit (the training pass), then a closed loop with one client
    * sending [[Main.timedRequests]] requests, each scoring one seeded test
    * row through `Serve.predictOne` and waiting for its prediction.
    * Afterwards, untimed: every served prediction must equal the batch
    * `model.transform` prediction of the same row, and batch accuracy on
    * the test split must reach the majority-class rate (checked against
    * the fit). */
  private def crimeMl(): (Seq[Double], Map[String, Any]) = {
    val reqs = crimeWarmUp(Main.WarmRequests)
      .getOrElse(return (Seq.empty, Map.empty))
    val rawCols = reqs.cols
    val fit = new OpRec("fit", "fit", timed = true)
    ops += fit
    firstTimedMs = System.currentTimeMillis()
    val ((model, train, test), fitNs) = try {
      trace.span("fit", "fit", leaf = true)(CrimePipeline.fit(spark, dir))
    } catch {
      case e: Throwable =>
        problem(s"fit raised ${e.getClass.getSimpleName}: ${e.getMessage}")
        return (Seq.empty, Map.empty)
    }
    fit.ok = true
    fit.phases = Map("fit_ms" -> fitNs / 1e6)
    val served = Seq.newBuilder[(OpRec, Row, Double)]
    (1 to Main.timedRequests(seconds)).foreach { _ =>
      val (row, df) = reqs.next()
      val (rec, result) =
        op("request", "request")(Serve.predictOne(spark, model, df, train))
      result.foreach { case (_, rows) =>
        served += ((rec, row, rows.head.getAs[Double]("prediction")))
      }
    }
    val s = served.result()
    val requested =
      spark.createDataFrame(s.map(_._2).distinct.asJava, reqs.raw.schema)
    val scored = model.transform(test).cache()
    val batch = scored
      .join(broadcast(requested), rawCols.map(_.toString), "left_semi")
      .select(rawCols :+ col("prediction"): _*).collect()
      .map(r => Row.fromSeq(r.toSeq.init) -> r.getAs[Double]("prediction"))
      .toMap
    s.foreach { case (rec, row, p) => rec.correct = Some(batch.get(row).contains(p)) }
    val mismatched = s.count(!_._1.correct.get)
    if (mismatched > 0)
      problem(s"$mismatched served predictions differ from batch transform")
    val byLabel = scored.groupBy(CrimePipeline.LabelCol).agg(
        count(lit(1)).as("n"),
        sum((col("prediction") === col("label")).cast("long")).as("hit"))
      .collect().map(r => (r.getAs[Long]("n"), r.getAs[Long]("hit")))
    val total = byLabel.map(_._1).sum.toDouble
    val acc = byLabel.map(_._2).sum / total
    val majority = byLabel.map(_._1).max / total
    fit.correct = Some(acc >= majority)
    if (acc < majority)
      problem(f"test accuracy $acc%.4f is below the majority-class rate $majority%.4f")
    release()
    (Seq(fitNs / 1e6), Map("accuracy" -> acc, "majority_rate" -> majority))
  }
}
