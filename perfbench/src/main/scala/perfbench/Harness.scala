package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkEntry
import graft.operators.TextAnalysis
import graft.sinks.{Compaction, ParquetUpsertSink}
import graft.sources.Rides
import graft.streaming.{CascadeQ4, LakeRetractStream, StreamingQueries}

/** One benchmark run inside the engine's JVM, driving only the engine's
  * public entry points.
  *
  * Usage: `Harness --workload W --data DIR --work DIR --seed N --seconds S
  * --trace 0|1 [--chunks N --lead-in N]`; stream_lake needs `--chunks`, the
  * number of chunks in the feed, and `--lead-in`, how many of them land
  * before the open loop.
  *
  * Writes into the work dir: `raw.json` (timings and counters), one parquet
  * result per checked output under `out/` plus `oracle_sql.json` (the
  * engine's declared DuckDB oracle for each), and `spans.jsonl` when
  * tracing. `run.py` turns these into metrics and checks the outputs.
  */
object Harness {

  /** The batch_mix query set: the reference's batch Q1, Q4 and Q8, the
    * percentiles query of the small-relational cohort, and a corpus query
    * (index-backed BM25 retrieval). Every query pays a cold first run and
    * two warm-up runs in set-up, so the set is kept small enough for the
    * run's time budget. The corpus query takes three to four times as long
    * as the rest, so p90 falls inside the slow cluster; with four timed
    * passes, p50 falls among the three taxi queries, below the slightly
    * slower rel_percentiles, never on a gap between clusters.
    */
  val batchMix: Seq[String] = Seq(
    "q1_tumble", "q4_cnt_freq", "q8_pair_join", "rel_percentiles", "txt_bm25_indexed")

  /** Timed passes of batch_mix: one per 4 s of `--seconds`, rounded up.
    * Query time still falls from pass to pass while the JIT warms up, so
    * the count is fixed by the run length, not by a clock: stopping on time
    * let a faster run time one more, warmer pass than a slower one.
    */
  def batchPasses(seconds: Int): Int = math.max(1, (seconds + 3) / 4)

  final class Run(val args: Map[String, String]) {
    val workload: String = args("workload")
    val data: String = args("data")
    val work: Path = Paths.get(args("work")).toAbsolutePath
    val seed: Long = args("seed").toLong
    val seconds: Int = args("seconds").toInt
    val tracer = new Tracer(args("trace") == "1")
    val raw = ArrayBuffer.empty[String] // "key": json-value members of raw.json
    def put(k: String, jsonValue: String): Unit = raw += s""""$k": $jsonValue"""
    val oracle = ArrayBuffer.empty[(String, String)]
  }

  def main(argv: Array[String]): Unit = {
    val run = new Run(argv.grouped(2).map { a => a(0).stripPrefix("--") -> a(1) }.toMap)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val tracer = run.tracer
    LakeFs.register()
    val spark = tracer.span("core.session_create") {
      graft.core.EngineSession.create(s"local[$cpus]", cpus)
    }
    spark.sparkContext.setLogLevel("ERROR")
    val counters = if (tracer.on) Some(SparkCounters.attach(spark, tracer)) else None
    if (tracer.on) spark.streams.addListener(new StreamSpans(tracer))
    tracer.span("core.tables_register") { graft.core.Tables.registerAll(spark, run.data) }
    run.put("jvm_start_ms", jvmStartMs.toString)
    run.put("cpus", cpus.toString)
    val window = run.workload match {
      case "batch_mix" => batchMixRun(spark, run, counters)
      case "stream_lake" => streamLakeRun(spark, run, counters)
      case other => sys.error(s"unknown workload $other")
    }
    run.put("window", window)
    Files.createDirectories(run.work.resolve("out"))
    Files.writeString(run.work.resolve("out").resolve("oracle_sql.json"),
      run.oracle.map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString("{", ", ", "}"))
    spark.catalog.clearCache()
    run.put("live_heap_mb", f"${Process.liveHeapMb()}%.3f")
    if (tracer.on) tracer.write(run.work.resolve("spans.jsonl"))
    run.put("end_ms", System.currentTimeMillis().toString)
    Files.writeString(run.work.resolve("raw.json"), run.raw.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }

  /** Readings at the start and end of the measured window, as JSON. */
  private def measureWindow(counters: Option[SparkCounters])(body: => Unit): String = {
    counters.foreach(_.quiesce())
    val s0 = counters.map(_.snapshot()).getOrElse(Map.empty)
    val p0 = Process.readings()
    val t0 = System.currentTimeMillis()
    body
    val t1 = System.currentTimeMillis()
    val p1 = Process.readings()
    counters.foreach(_.quiesce())
    val s1 = counters.map(_.snapshot()).getOrElse(Map.empty)
    val deltas = (p1.keys.map(k => k -> (p1(k) - p0(k))) ++
      s1.keys.map(k => k -> (s1(k) - s0.getOrElse(k, 0L)))).toMap
    (Seq(s""""start_ms": $t0""", s""""end_ms": $t1""") ++
      deltas.toSeq.sorted.map { case (k, v) => s""""$k": $v""" }).mkString("{", ", ", "}")
  }

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Persist a result for the oracle check, like the engine's Verify main. */
  private def keep(run: Run, name: String, oracleName: String, df: => DataFrame): Unit = {
    run.oracle += name -> SparkEntry.oracleSql(oracleName)
    df.coalesce(1).write.mode("overwrite").parquet(run.work.resolve(s"out/$name").toString)
  }

  // ---- batch_mix -----------------------------------------------------------

  private def batchMixRun(spark: SparkSession, run: Run,
                          counters: Option[SparkCounters]): String = {
    val tracer = run.tracer
    val queries = SparkEntry.queries
    // index builds are set-up, not query time
    tracer.span("operators.index_build") { TextAnalysis.persistBm25Index(spark, run.data) }
    // warm-up: the first pass is also the correctness pass, every query in
    // the mix writes its answer once for the oracle check; two more let the
    // JIT catch up with the freshly generated code
    batchMix.foreach { name =>
      spark.catalog.clearCache()
      try keep(run, name, name, queries(name)(spark, run.data))
      catch { case e: Exception => System.err.println(s"[harness] $name failed: ${e.getMessage}") }
    }
    for (_ <- 1 to 2; name <- batchMix) {
      spark.catalog.clearCache()
      try force(queries(name)(spark, run.data))
      catch { case e: Exception => System.err.println(s"[harness] $name failed: ${e.getMessage}") }
    }
    run.put("first_op_ms", System.currentTimeMillis().toString)
    val rng = new scala.util.Random(run.seed)
    val ops = ArrayBuffer.empty[String]
    // whole passes only, so every run times each query equally often
    val window = measureWindow(counters) {
      var op = 0L
      (1 to batchPasses(run.seconds)).foreach { _ =>
        rng.shuffle(batchMix).foreach { name =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val ok = try {
            tracer.span("op", op) {
              val df = tracer.span("operators.build", op) { queries(name)(spark, run.data) }
              tracer.span("spark.execute", op) { force(df) }
            }
            true
          } catch { case e: Exception =>
            System.err.println(s"[harness] $name failed: ${e.getMessage}"); false }
          val ms = (System.nanoTime() - t0) / 1e6
          ops += f"""{"name": "$name", "ms": $ms%.3f, "ok": $ok}"""
          op += 1
        }
      }
    }
    run.put("ops", ops.mkString("[\n", ",\n", "\n]"))
    window
  }

  // ---- stream_lake ---------------------------------------------------------

  /** Per-query progress reports, deduplicated by batch id. */
  private final class Progress {
    private val seen =
      scala.collection.mutable.LinkedHashMap.empty[(String, Long), (Long, String)]
    // an idle trigger reports the id of the batch it did not run; the report
    // of the batch that ran under that id replaces it
    def poll(name: String, q: StreamingQuery): Unit = synchronized {
      q.recentProgress.foreach { p =>
        if (seen.get((name, p.batchId)).forall(_._1 == 0L))
          seen((name, p.batchId)) = (p.numInputRows, p.json)
      }
    }
    /** Micro-batches that read input: chunks read, at one chunk per batch. */
    def dataBatches(name: String): Int = synchronized {
      seen.count { case ((n, _), (rows, _)) => n == name && rows > 0 }
    }
    def json: String = synchronized {
      seen.map { case ((n, _), (_, js)) => s"""{"query": "$n", "progress": $js}""" }
        .mkString("[\n", ",\n", "\n]")
    }
  }

  /** stream_lake. Open loop: the feed drives the standing q1Tumble query
    * (complete mode, memory sink), one chunk per micro-batch; its cost is the
    * engine's fixed micro-batch and state-store overhead. The first chunks
    * land in set-up, the rest come from the feeder. After the backlog
    * drains, the Q4 retraction pipeline catches up on the whole feed:
    * q4Level1's update-mode changelog through LakeRetractStream.onBatch,
    * then the CascadeQ4 job into a ParquetUpsertSink. Both lakes are then
    * compacted and read back. `run.py` starts the feeder once `ready` exists.
    */
  private def streamLakeRun(spark: SparkSession, run: Run,
                            counters: Option[SparkCounters]): String = {
    val tracer = run.tracer
    val chunks = run.args("chunks").toInt
    val stage = run.work.resolve("stage")
    val watched = run.work.resolve("watched")
    Files.createDirectories(watched)
    val perChunk = tracer.span("sources.stage") { stageChunks(spark, run, chunks, stage) }
    run.put("events_per_chunk", perChunk.toString)
    val schema = spark.read.parquet(stage.toString).schema
    def feed(dir: Path, maxFiles: Int = 1): DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFiles.toString).parquet(dir.toString)

    val progress = new Progress
    val queries = standing(feed(watched), run.work)
    val deadlineNs = System.nanoTime() + (run.seconds + 60) * 1000000000L
    def pollAll(): Unit = queries.foreach { case (n, q) => progress.poll(n, q) }
    def processed(n: Int) = queries.forall { case (q, _) => progress.dataBatches(q) >= n }
    def await(n: Int): Unit =
      while (!processed(n) && System.nanoTime() < deadlineNs &&
          queries.forall(_._2.exception.isEmpty)) {
        pollAll()
        Thread.sleep(20)
      }
    // lead-in: the first chunks land before the open loop, so the standing
    // queries' first micro-batches, slower while state stores and code warm
    // up, are set-up; mtimes keep the file source reading them in order
    val leadIn = run.args("lead-in").toInt
    (0 until leadIn).foreach { i =>
      val f = stage.resolve(chunkName(i))
      Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - leadIn + i))
      Files.move(f, watched.resolve(chunkName(i)), StandardCopyOption.ATOMIC_MOVE)
    }
    await(leadIn)
    val window = measureWindow(counters) {
      Files.writeString(run.work.resolve("ready"), System.currentTimeMillis().toString)
      run.put("first_op_ms", System.currentTimeMillis().toString)
      await(chunks)
      pollAll()
      if (processed(chunks)) {
        val t0 = System.currentTimeMillis()
        lakeCatchUp(feed(watched, (chunks + 1) / 2), run.work, tracer, progress)
        val t1 = System.currentTimeMillis()
        run.put("lake_catch_up_ms", s"""{"start_ms": $t0, "end_ms": $t1}""")
        lakeCompactAndReadBack(spark, run)
      }
    }
    queries.foreach { case (n, q) =>
      q.exception.foreach(e => System.err.println(s"[harness] $n failed: ${e.getMessage}"))
      q.stop()
    }
    run.put("progress", progress.json)
    val failed = queries.collect { case (n, _) if progress.dataBatches(n) < chunks => n }
    run.put("stream_failed", failed.map(json).mkString("[", ", ", "]"))
    if (failed.isEmpty) {
      keep(run, "q1_tumble", "stream_q1_tumble",
        spark.table("q1_tumble").orderBy("dept_time", "cell"))
    }
    window
  }

  private def chunkName(i: Int) = f"chunk-$i%05d.parquet"

  /** Split the rides derived from the events table into `chunks` files of
    * equal size, in arrival order: each event arrives a seeded delay of
    * 0-60 s after its event time, so the feed is out of order by at most
    * 60 s and stays inside the queries' 61 s watermark.
    */
  private def stageChunks(spark: SparkSession, run: Run, chunks: Int, stage: Path): Int = {
    val rides = Rides.fromEvents(spark, run.data)
    val n = rides.count()
    require(n % chunks == 0, s"$n events do not split into $chunks equal chunks")
    val perChunk = (n / chunks).toInt
    val arrival = unix_millis(col("rowtime")) +
      pmod(xxhash64(col("rideId"), lit(run.seed)), lit(60001L))
    val tmp = run.work.resolve("stage_tmp")
    rides.withColumn("chunk",
        ((row_number().over(Window.orderBy(arrival, col("rideId"))) - 1) / perChunk).cast("int"))
      .repartition(col("chunk"))
      .write.partitionBy("chunk").parquet(tmp.toString)
    Files.createDirectories(stage)
    (0 until chunks).foreach { i =>
      val s = Files.list(tmp.resolve(s"chunk=$i"))
      val part = try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        finally s.close()
      require(part.size == 1, s"chunk $i staged as ${part.size} files")
      Files.move(part.head, stage.resolve(chunkName(i)), StandardCopyOption.ATOMIC_MOVE)
    }
    perChunk
  }

  /** The standing queries of the open loop, named as their progress is
    * reported and as their memory sinks.
    */
  private def standing(rides: DataFrame, root: Path): Seq[(String, StreamingQuery)] = {
    def start(name: String, df: DataFrame, mode: String) = name -> df.writeStream
      .outputMode(mode).format("memory").queryName(name)
      .option("checkpointLocation", root.resolve(s"ck/$name").toString).start()
    Seq(start("q1_tumble", StreamingQueries.q1Tumble(rides), "complete"))
  }

  private def cascadeSink(root: Path) =
    new ParquetUpsertSink(LakeFs.uri(root.resolve("q4_cascade-level2")), Seq("dept_cnt"), 4)

  private def retractLake(root: Path) =
    new LakeRetractStream(LakeFs.uri(root.resolve("retract")), Seq("cell"))

  private def retractFold(df: DataFrame) = df.groupBy("cell", "dept_cnt")
    .agg(sum(when(col("is_add"), 1L).otherwise(-1L)).as("mult"))

  /** The Q4 retraction pipeline over everything landed, in two
    * micro-batches each, so the second one merges into a non-empty lake:
    * q4Level1's changelog applied to the retract lake exactly as the
    * engine's own lake gate applies it, then the CascadeQ4 job. Both are
    * AvailableNow queries.
    */
  private def lakeCatchUp(rides: DataFrame, root: Path, tracer: Tracer,
                          progress: Progress): Unit = {
    val retr = retractLake(root)
    def drain(name: String)(start: => StreamingQuery): Unit = tracer.span(s"sinks.$name") {
      val q = start
      q.awaitTermination()
      progress.poll(s"q4_$name", q)
    }
    drain("retract") {
      StreamingQueries.q4Level1(rides).writeStream.outputMode("update")
        .option("checkpointLocation", root.resolve("ck/q4_retract").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: Dataset[Row], id: Long) =>
          if (!b.isEmpty) tracer.span("sinks.retract_merge", id) { retr.onBatch(b.toDF(), id) }
        }.start()
    }
    drain("cascade") {
      CascadeQ4.startToParquet(rides, cascadeSink(root), root.resolve("ck/q4_cascade").toString)
    }
  }

  /** The closing lake operations: compact both lakes, then read both back.
    * The answers read back are the ones checked against the oracle.
    */
  private def lakeCompactAndReadBack(spark: SparkSession, run: Run): Unit = {
    val retr = retractLake(run.work)
    val sink = cascadeSink(run.work)
    def timed(name: String)(body: => Unit): String = {
      val t0 = System.nanoTime()
      run.tracer.span(s"sinks.$name")(body)
      f""""${name}_ms": ${(System.nanoTime() - t0) / 1e6}%.3f"""
    }
    val ops = Seq(
      timed("compact") {
        Compaction.compact(spark, sink.path, 4)
        retr.compactRetractLog(spark, retr.lastBatchId(spark))
        ()
      },
      timed("snapshot") {
        keep(run, "q4_cascade", "stream_q4_cascade", sink.snapshot(spark)
          .select(col("dept_cnt"), col("cnt_freq")).orderBy("dept_cnt"))
      },
      timed("emitted_read") {
        keep(run, "q4_retract", "stream_q4_retract_lake",
          retractFold(retr.emitted(spark)).filter(col("mult") === 1L)
            .select(col("cell"), col("dept_cnt")).orderBy("cell"))
      })
    run.put("lake_ops", ops.mkString("{", ", ", "}"))
  }

  private def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
