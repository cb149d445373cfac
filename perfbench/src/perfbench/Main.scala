package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._
import org.apache.spark.sql.execution.streaming.state.StateStore

/** Event stream of the index_state workload: one state-index operation
  * per row, `item < 0` marks the per-key flush. */
case class IdxEvent(key: Long, item: Long)

/** One entry of a key's final index state as the operator reports it on
  * flush: the rolling counter and one map entry. */
case class IdxFinal(key: Long, ctr: Long, item: Long, x1: Long)

object CounterTableOp {
  /** Index calls made by every instance (tasks run in this JVM). */
  val calls = new java.util.concurrent.atomic.AtomicLong
}

/** The reference's two shipped state benchmarks as one operator:
  * value.rs's rolling counter (value-index read-modify-write per event)
  * and hash_table.rs's get-modify-put on a map index of `SmallState`. */
class CounterTableOp extends graft.operators.IndexOperator[Long, IdxEvent, IdxFinal] {
  @transient private var ctr: graft.api.ValueIndex[Long] = _
  @transient private var tbl: graft.api.MapIndex[Long, graft.SmallState] = _
  def open(state: graft.api.IndexState): Unit = {
    ctr = state.value[Long]("ctr")(Encoders.scalaLong)
    tbl = state.map[Long, graft.SmallState]("tbl")(
      Encoders.scalaLong, Encoders.product[graft.SmallState])
  }
  def handleElement(key: Long, e: IdxEvent, ts: Option[Long],
      c: graft.operators.TimerContext): Iterator[IdxFinal] =
    if (e.item < 0) {
      val n = ctr.get.getOrElse(0L)
      val out = tbl.entries.map { case (k, v) => IdxFinal(key, n, k, v.x1) }.toList
      CounterTableOp.calls.addAndGet(2)
      out.iterator
    } else {
      ctr.rmw(0L)(_ + 1L)
      tbl.put(e.item, tbl.get(e.item) match {
        case Some(v) => v.copy(x1 = v.x1 + 1)
        case None => graft.SmallState(100L, 500, 1000.0)
      })
      CounterTableOp.calls.addAndGet(3)
      Iterator.empty
    }
}

/** Benchmark harness: one workload, one seed, one closed loop (one
  * thread, one query or call in flight). Inputs are generated before the
  * JVM starts; this program stages them, runs the set-up, warm-up and
  * timed phases, and writes `result.json` plus the outputs the checker
  * compares against its oracles.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE [--params k=v,...]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val work = Paths.get(kv("work")).toAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cores,2]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.graft.drainStatePartitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val params = kv.getOrElse("params", "").split(",").filter(_.contains("="))
      .map { p => val Array(k, v) = p.split("=", 2); k -> v }.toMap
    val run = new Run(spark, kv("workload"), kv("seed").toLong,
      kv("seconds").toDouble, kv("trace") == "1", kv("data"), work, params, cores)
    try run.go()
    catch { case NonFatal(e) =>
      run.fail("run", e)
    }
    finally {
      Files.writeString(Paths.get(kv("out")), run.json)
      spark.stop()
    }
  }
}

final class Run(spark: SparkSession, workload: String, seed: Long,
    seconds: Double, traced: Boolean, data: String, work: Path,
    params: Map[String, String], cores: Int) {

  private val tracer = new Tracer(traced, s"$workload-$seed-${System.currentTimeMillis()}")
  private val progress = new ProgressLog
  private val exec = new ExecCounters(tracer)
  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private val layers = mutable.LinkedHashMap[String, (Double, String)]()
  private val info = mutable.LinkedHashMap[String, String]()
  private val checks = mutable.ArrayBuffer[String]()
  private var attempted = 0L
  private var failed = 0L
  private var peakHeapMb = 0.0
  private val errors = mutable.ArrayBuffer[String]()
  // raw latency samples; the runner derives the percentiles
  private val samples = mutable.LinkedHashMap[String, Seq[Double]]()
  // end-to-end values and samples measured again under tracing
  private val tracedValues = mutable.LinkedHashMap[String, Double]()
  private val tracedSamples = mutable.LinkedHashMap[String, Seq[Double]]()

  spark.streams.addListener(progress)

  // ---- generic helpers ---------------------------------------------------

  private def p(k: String): String = params.getOrElse(k,
    throw new IllegalArgumentException(s"missing --params $k"))

  def fail(where: String, e: Throwable): Unit = {
    failed += 1
    attempted = math.max(attempted, failed)
    val msg = s"$where: ${e.getClass.getName}: ${e.getMessage}".take(2000)
    errors += msg
    System.err.println(s"[perfbench] $msg")
  }

  private def now: Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val phaseSecs = mutable.LinkedHashMap[String, Double]()

  /** A workload phase: timed always, a span when traced. */
  private def phase[A](name: String)(body: => A): A = {
    val t0 = now
    try tracer("phase", name)(body)
    finally phaseSecs(name) = phaseSecs.getOrElse(name, 0.0) + secs(t0)
  }

  /** Unload state-store providers, then GC, and sample the live heap. */
  private def settle(unloadState: Boolean = true): Unit = {
    if (unloadState) scala.util.Try(StateStore.stop())
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    peakHeapMb = math.max(peakHeapMb, used)
  }

  private def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Linear-interpolated percentile (the `statistics.quantiles`
    * inclusive method) over an unsorted sample. */
  private def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val h = (s.size - 1) * q / 100.0
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }

  private def deleteTree(p: Path): Unit = scala.util.Try {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  private def mkdirs(p: Path): Path = { Files.createDirectories(p); p }

  private def addCheck(kind: String, fields: (String, String)*): Unit =
    checks += Json.obj(("kind" -> Json.str(kind)) +: fields.map { case (k, v) => k -> v })

  def go(): Unit = {
    info("workload") = Json.str(workload)
    info("seed") = seed.toString
    info("local_cores") = cores.toString
    info("master") = Json.str(spark.sparkContext.master)
    info("spark_version") = Json.str(spark.version)
    info("jvm_to_session_s") = Json.num((System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)
    workload match {
      case "window_stream" => streaming(window = true)
      case "index_state" => streaming(window = false)
      case "curation_batch" => curation()
      case "none" => () // session start only: records the class-data archive
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    settle()
    metrics("peak_heap_mb") = (peakHeapMb, "MB")
  }

  // ---- streaming workloads: window_stream, index_state -------------------

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))
  private val idxSchema = StructType(Seq(
    StructField("key", LongType), StructField("item", LongType)))

  private def windowPlan(src: Path): DataFrame = {
    val in = spark.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    graft.streaming.EventTimeWindows.tumbling(in, "ts", s"${p("window_s")} seconds",
      s"${p("lateness_s")} seconds", Seq(col("user_id")),
      Seq(count(lit(1)).as("n"),
        sum(floor(col("value") * lit(1e6)).cast("long")).as("sum_value_micros")))
      .select("window_start", "user_id", "n", "sum_value_micros")
  }

  private def indexPlan(src: Path): DataFrame = {
    val ds = spark.readStream.schema(idxSchema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
      .as[IdxEvent](Encoders.product[IdxEvent])
    new graft.api.Stream(ds, graft.api.SourceConf[IdxEvent]())
      .keyBy((e: IdxEvent) => e.key)(Encoders.scalaLong)
      .indexOperator(new CounterTableOp)(Encoders.product[IdxFinal])
      .ds.toDF()
  }

  /** Start the workload query on (src, checkpoint) with a foreachBatch
    * sink that writes each batch's rows as `sink/batch-<id>.csv`. */
  private def startQuery(window: Boolean, src: Path, ckpt: Path, sink: Path): StreamingQuery = {
    val plan = if (window) windowPlan(src) else indexPlan(src)
    mkdirs(sink)
    val cols = if (window) Seq("unix_micros(window_start) AS ws_us", "user_id", "n",
      "sum_value_micros") else Seq("key", "ctr", "item", "x1")
    // idempotent per batch id: a replayed batch overwrites its own file
    val write: (DataFrame, Long) => Unit = (df, id) => {
      val rows = df.selectExpr(cols: _*).collect()
      val sb = new java.lang.StringBuilder
      rows.foreach { r =>
        var i = 0
        while (i < r.length) {
          if (i > 0) sb.append(',')
          sb.append(r.getLong(i))
          i += 1
        }
        sb.append('\n')
      }
      if (rows.nonEmpty) {
        val tmp = sink.resolve(s".batch-$id.csv.tmp")
        Files.writeString(tmp, sb)
        Files.move(tmp, sink.resolve(s"batch-$id.csv"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    }
    plan.writeStream.outputMode("append").foreachBatch(write)
      .option("checkpointLocation", ckpt.toString)
      .start()
  }

  /** Block until batch `id` of `q` has committed (progress is reported
    * after the commit). */
  private def awaitBatch(q: StreamingQuery, id: Long): Unit = {
    val deadline = now + 120L * 1000000000L
    while ({ val pr = q.lastProgress; pr == null || pr.batchId < id }) {
      if (!q.isActive)
        throw q.exception.map(e => e: Throwable)
          .getOrElse(new IllegalStateException(s"query stopped before batch $id"))
      if (now > deadline) throw new RuntimeException(s"batch $id did not commit in 120 s")
      LockSupport.parkNanos(100000L)
    }
  }

  /** One closed-loop timed phase of a streaming workload. */
  private case class Timed(lat: Seq[Double], blocks: Seq[Double], wall: Double,
      batches: Seq[Long])

  private def streaming(window: Boolean): Unit = {
    val stage = Paths.get(data, "stage")
    val nFiles = Files.list(stage).count().toInt
    val rowsPerFile = p("rows_per_file").toLong
    val block = p("block_files").toInt
    val reserveFiles = 3
    def fileName(i: Int) = f"b$i%04d.parquet"
    def reveal(src: Path, i: Int): Unit =
      Files.createLink(src.resolve(fileName(i)), stage.resolve(fileName(i)))
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      graft.streaming.StreamingRun.RocksDbProvider)
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    // one staged file = one micro-batch: no extra no-data batches, so the
    // per-batch watermarks are a function of the files alone
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    spark.conf.set("spark.sql.streaming.pollingDelay", "1ms")
    spark.conf.set("spark.sql.shuffle.partitions", p("state_partitions"))
    info("state_provider") = Json.str("rocksdb+changelog")
    info("state_partitions") = p("state_partitions")

    // set-up: fresh query to its first committed batch, three times
    val setupTimes = phase("setup") {
      (0 until 3).map { r =>
        val d = work.resolve(s"setup$r")
        val src = mkdirs(d.resolve("src"))
        reveal(src, 0)
        val t0 = now
        val q = tracer("streaming", "start+first batch") {
          val q = startQuery(window, src, d.resolve("ckpt"), d.resolve("sink"))
          awaitBatch(q, 0)
          q
        }
        q.stop()
        val t = secs(t0)
        settle()
        deleteTree(d)
        t
      }
    }
    metrics("setup_s") = (median(setupTimes), "s")
    info("setup_s_samples") = setupTimes.map(Json.num).mkString("[", ",", "]")

    val d = work.resolve("main")
    val src = mkdirs(d.resolve("src"))
    val ckpt = d.resolve("ckpt")
    val sink = d.resolve("sink")
    var next = 0
    var q = startQuery(window, src, ckpt, sink)
    def step(): Double = {
      reveal(src, next)
      val t0 = now
      awaitBatch(q, next)
      next += 1
      (now - t0) / 1e6
    }

    phase("warm-up") { while (next < p("warmup_files").toInt) step() }
    settle(unloadState = false)

    /** Blocks of `block` files until `budget` seconds are used up. */
    def timedPhase(label: String, budget: Double): Timed = {
      val lat = mutable.ArrayBuffer[Double]()
      val blocks = mutable.ArrayBuffer[Double]()
      val first = next.toLong
      val t0 = now
      phase(label) {
        while ((blocks.isEmpty || secs(t0) + blocks.max <= budget) &&
            next + block + reserveFiles + 1 <= nFiles) {
          val b0 = now
          tracer("streaming", s"block ${next / block}") {
            (0 until block).foreach(_ => lat += step())
            tracer.count("batches", block)
            tracer.count("input_rows", block * rowsPerFile)
          }
          blocks += secs(b0)
        }
      }
      val wall = secs(t0)
      if (wall < budget) info(s"${label}_warning") =
        Json.str(s"inputs ran out after ${lat.size} batches")
      settle(unloadState = false)
      Timed(lat.toSeq, blocks.toSeq, wall, first until next.toLong)
    }

    def record(ts: Seq[Timed]): Map[String, (Double, String)] = Map(
      "throughput_rps" -> (ts.map(_.lat.size).sum * rowsPerFile / ts.map(_.wall).sum, "1/s"),
      "run_s" -> (median(ts.flatMap(_.blocks)), "s"))

    val untraced = if (!traced) Seq(timedPhase("timed", seconds)) else {
      // untraced, traced, traced, untraced halves: the tracing overhead
      // is the traced halves against the untraced ones, with phase
      // position and JIT warmth balanced between the two
      val u1 = untracedPhase(timedPhase("timed untraced 1", seconds / 2))
      exec.reset()
      exec.attach(spark)
      val calls0 = CounterTableOp.calls.get
      val t1 = timedPhase("timed traced 1", seconds / 2)
      val t2 = timedPhase("timed traced 2", seconds / 2)
      val calls = CounterTableOp.calls.get - calls0
      org.apache.spark.sql.perfbench.Internals.drainBus(spark)
      exec.detach(spark)
      val u2 = untracedPhase(timedPhase("timed untraced 2", seconds / 2))
      val t = Seq(t1, t2)
      record(t).foreach { case (k, v) => tracedValues(k) = v._1 }
      val lat = t.flatMap(_.lat)
      tracedSamples("batch_ms") = lat
      streamingLayers(q.id.toString, t.flatMap(_.batches).toSet, lat.size, t.map(_.wall).sum)
      // closed-loop cost outside the engine's trigger: file arrival to
      // trigger start, and trigger end to the client seeing the commit
      layers("streaming.fixed_ms") =
        (lat.sum / lat.size - layers("streaming.trigger_ms")._1, "ms")
      if (!window) {
        layers("api.index_ops") = (calls.toDouble / lat.size, "count")
        val stateCalls = layers("state.rocksdb.get_count")._1 + layers("state.rocksdb.put_count")._1
        layers("api.state_calls_per_index_op") =
          (if (calls > 0) stateCalls * lat.size / calls else 0.0, "ratio")
        layers("api.index_tws_ops_per_s") =
          (rowsPerFile * 1000.0 / layers("streaming.trigger_ms")._1, "1/s")
      }
      Seq(u1, u2)
    }
    metrics ++= record(untraced)
    samples("batch_ms") = untraced.flatMap(_.lat)
    info("run_unit") = Json.str(s"$block micro-batches of $rowsPerFile rows")
    info("timed_batches") = untraced.map(_.lat.size).sum.toString
    info("timed_wall_s") = Json.num(untraced.map(_.wall).sum)

    // kill at the post-commit point and restore on the same checkpoint;
    // state maintenance has not run yet (its first pass is 60 s after
    // the first query start), so every restore replays the changelog of
    // every batch so far
    val restoreTimes = phase("restore") {
      (0 until p("restores").toInt).map { _ =>
        q.stop()
        settle()
        reveal(src, next)
        val t0 = now
        q = tracer("streaming", "restart+first batch") {
          val r = startQuery(window, src, ckpt, sink)
          awaitBatch(r, next)
          r
        }
        val t = secs(t0)
        val ids = q.recentProgress.map(_.batchId)
        attempted += 1
        if (ids.isEmpty || ids.min != next) {
          failed += 1
          errors += s"restore resumed at batch ${ids.mkString(",")}, expected $next"
        }
        next += 1
        t
      }
    }
    metrics("restore_s") = (median(restoreTimes), "s")
    info("restore_s_samples") = restoreTimes.map(Json.num).mkString("[", ",", "]")
    if (traced) layers("streaming.first_batch_ms") = (median(restoreTimes) * 1000, "ms")

    val chk = mkdirs(work.resolve("check"))
    if (window) {
      q.stop()
      settle()
      val lastBatch = next - 1L
      // median of three read-backs
      val reads = (0 until 3).map { _ =>
        val t0 = now
        val h = phase("state-read") {
          val h = tracer("streaming.Snapshots", "stateAt") {
            graft.streaming.Snapshots.stateAt(spark, ckpt.toString)
              .select(col("key.window.start").as("window_start"),
                col("key.user_id").as("user_id"),
                col("value").getField("count").as("n"),
                col("value").getField("sum").as("sum_value_micros"))
              .localCheckpoint()
          }
          val t1 = now
          val feed = tracer("streaming.Snapshots", "changeFeed") {
            graft.streaming.Snapshots.changeFeed(spark, ckpt.toString,
              fromBatchId = math.max(0L, lastBatch - 9)).count()
          }
          info("change_feed_rows_last_10_batches") = feed.toString
          (h, (t1 - t0) / 1e6, (now - t1) / 1e6)
        }
        (secs(t0), h)
      }
      metrics("state_read_s") = (median(reads.map(_._1)), "s")
      if (traced) {
        layers("snapshots.state_at_ms") = (median(reads.map(_._2._2)), "ms")
        layers("snapshots.change_feed_ms") = (median(reads.map(_._2._3)), "ms")
      }
      reads.last._2._1.write.parquet(chk.resolve("held").toString)
      addCheck("window_replay",
        "files" -> next.toString,
        "stage" -> Json.str(stage.toString),
        "emitted" -> Json.str(sink.toString),
        "held" -> Json.str(chk.resolve("held").toString))
    } else {
      // flush: the key reports its final state
      Files.createLink(src.resolve("flush.parquet"), Paths.get(data, "flush", "flush.parquet"))
      awaitBatch(q, next)
      q.stop()
      settle()
      // the map index read back once: a read replays the store's
      // changelog of every batch
      val t0 = now
      phase("state-read") {
        val n = tracer("state", "statestore tbl") {
          spark.read.format("statestore").option("path", ckpt.toString)
            .option("stateVarName", "tbl").load().count()
        }
        info("state_rows_tbl") = n.toString
      }
      metrics("state_read_s") = (secs(t0), "s")
      localBaseline(stage, next, chk.resolve("local"))
      addCheck("index_compare",
        "tws" -> Json.str(sink.toString),
        "local" -> Json.str(chk.resolve("local").toString))
    }
    info("files_processed") = next.toString
    deleteTree(d.resolve("src"))
  }

  /** Run an untraced timed phase with span recording off. */
  private def untracedPhase[A](body: => A): A = {
    tracer.on = false
    try body finally tracer.on = traced
  }

  /** The same operator over the same events through the bounded
    * single-threaded replay with in-memory indexes. */
  private def localBaseline(stage: Path, nFiles: Int, out: Path): Unit = {
    val files = (0 until nFiles).map(i => stage.resolve(f"b$i%04d.parquet").toString)
    val evs = spark.read.schema(idxSchema).parquet(files: _*)
      .as[IdxEvent](Encoders.product[IdxEvent]).collect()
    val keys = spark.read.parquet(Paths.get(data, "flush", "flush.parquet").toString)
      .select("key").collect().map(_.getLong(0))
    val byKey = mutable.LongMap[mutable.ArrayBuffer[IdxEvent]]()
    evs.foreach(e => byKey.getOrElseUpdate(e.key, mutable.ArrayBuffer()) += e)
    def replay(): Seq[IdxFinal] = keys.toSeq.flatMap { k =>
      val in = byKey.get(k).fold(Iterator.empty[IdxEvent])(_.iterator) ++
        Iterator.single(IdxEvent(k, -1L))
      graft.operators.IndexOperator.runBounded(new CounterTableOp, None, k, in).toSeq
    }
    replay() // JIT warm-up
    val t0 = now
    val res = tracer("api", "IndexOperator.runBounded") { replay() }
    val t = secs(t0)
    if (traced) layers("api.index_local_ops_per_s") = (evs.length / t, "1/s")
    info("local_replay_s") = Json.num(t)
    spark.createDataset(res)(Encoders.product[IdxFinal]).toDF()
      .coalesce(1).write.parquet(out.toString)
  }

  /** Per-micro-batch means of the engine's progress numbers for batches
    * `ids` of query `qid`, plus the traced listener counters. */
  private def streamingLayers(qid: String, ids: Set[Long], n: Int, wall: Double): Unit = {
    val prs = progress.all.filter(pr => pr.id.toString == qid && ids.contains(pr.batchId))
    progressLayers(prs, n.toDouble)
    execLayers(n.toDouble, wall)
    prs.foreach(batchSpans)
  }

  /** A micro-batch span from its progress report, with the engine's phase
    * durations as child spans laid end to end in execution order. */
  private def batchSpans(pr: StreamingQueryProgress): Unit = {
    val t0 = java.time.Instant.parse(pr.timestamp).toEpochMilli
    val trig = pr.durationMs.getOrDefault("triggerExecution", 0L).longValue
    val b = tracer.record("streaming", s"micro-batch ${pr.batchId}",
      tracer.nanoOfWallMs(t0), tracer.nanoOfWallMs(t0 + trig))
    b.counts("input_rows") = pr.numInputRows.toDouble
    var t = t0
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      .foreach { k =>
        val d = pr.durationMs.getOrDefault(k, 0L).longValue
        if (d > 0) {
          tracer.record("streaming.engine", k, tracer.nanoOfWallMs(t),
            tracer.nanoOfWallMs(t + d)).parent = b.id
          t += d
        }
      }
  }

  private def progressLayers(prs: Seq[StreamingQueryProgress], per: Double): Unit = {
    def dur(k: String) = prs.map(_.durationMs.getOrDefault(k, 0L).toDouble).sum / per
    layers("streaming.batches") = (prs.size / per, "count")
    layers("streaming.trigger_ms") = (dur("triggerExecution"), "ms")
    layers("streaming.add_batch_ms") = (dur("addBatch"), "ms")
    layers("streaming.query_planning_ms") = (dur("queryPlanning"), "ms")
    layers("streaming.latest_offset_ms") = (dur("latestOffset"), "ms")
    layers("streaming.wal_commit_ms") = (dur("walCommit"), "ms")
    layers("streaming.commit_offsets_ms") = (dur("commitOffsets"), "ms")
    val ops = prs.flatMap(_.stateOperators)
    def so(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) = ops.map(f).sum / per
    layers("state.update_ms") = (so(_.allUpdatesTimeMs.toDouble), "ms")
    layers("state.commit_ms") = (so(_.commitTimeMs.toDouble), "ms")
    layers("state.remove_ms") = (so(_.allRemovalsTimeMs.toDouble), "ms")
    layers("state.rows_updated") = (so(_.numRowsUpdated.toDouble), "count")
    layers("state.rows_dropped_by_watermark") = (so(_.numRowsDroppedByWatermark.toDouble), "count")
    val last = prs.lastOption.map(_.stateOperators).getOrElse(Array())
    layers("state.rows_total") = (last.map(_.numRowsTotal.toDouble).sum, "count")
    layers("state.memory_bytes") = (last.map(_.memoryUsedBytes.toDouble).sum, "bytes")
    RocksMetrics.foreach { case (name, key, unit) =>
      layers(s"state.rocksdb.$name") =
        (ops.map(o => Option(o.customMetrics.get(key)).fold(0.0)(_.toDouble)).sum / per, unit)
    }
  }

  private val RocksMetrics = Seq(
    ("get_count", "rocksdbGetCount", "count"),
    ("put_count", "rocksdbPutCount", "count"),
    ("get_latency_ms", "rocksdbGetLatency", "ms"),
    ("put_latency_ms", "rocksdbPutLatency", "ms"),
    ("commit_write_batch_ms", "rocksdbCommitWriteBatchLatency", "ms"),
    ("commit_flush_ms", "rocksdbCommitFlushLatency", "ms"),
    ("commit_compact_ms", "rocksdbCommitCompactLatency", "ms"),
    ("commit_checkpoint_ms", "rocksdbCommitCheckpointLatency", "ms"),
    ("commit_file_sync_ms", "rocksdbCommitFileSyncLatencyMs", "ms"),
    ("sst_file_bytes", "rocksdbSstFileSize", "bytes"))

  private def execLayers(per: Double, wall: Double): Unit = {
    val c = exec.snapshot
    def g(k: String) = c.getOrElse(k, 0.0)
    Seq("exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
      "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms",
      "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
      "exec.spill_bytes" -> "bytes", "exec.gc_ms" -> "ms",
      "exec.task_failures" -> "count", "exec.task_failures_injected" -> "count",
      "plan.analyze_ms" -> "ms", "plan.optimize_ms" -> "ms", "plan.physical_ms" -> "ms")
      .foreach { case (k, u) => layers(k) = (g(k) / per, u) }
    layers("exec.busy_share") = (g("exec.task_run_ms") / (wall * 1000.0 * cores), "ratio")
  }

  // ---- oracle-checked query rows: curation_batch -------------------------

  // The curation rows whose DuckDB oracles fit the run budget; pl3, pl7
  // and dd2 take 10-20 s of oracle time per 1,000 documents.
  private val CurationRows = Seq(
    "x15_gopher_rules",         // Gopher quality gate
    "x7_decontaminate",         // exact shingle-overlap decontamination
    "x17_fuzzy_decontaminate")  // MinHash/LSH benchmark decontamination
  private val OperatorStage = Map("x15_gopher_rules" -> "gopher",
    "x7_decontaminate" -> "decontaminate", "x17_fuzzy_decontaminate" -> "fuzzy_decontaminate")

  /** Copy the generated table dir so each pass reads its input at a fresh
    * path: no pass reuses another's cached files. */
  private def copyTables(from: Path, to: Path): Path = {
    mkdirs(to)
    val it = Files.list(from).iterator()
    while (it.hasNext) {
      val f = it.next()
      Files.copy(f, to.resolve(f.getFileName))
    }
    to
  }

  private case class PassResult(wall: Double, perRow: Map[String, Double],
      out: Path, dataDir: Path, calls: Seq[(Long, Long)], plans: Map[String, DataFrame])

  /** One closed-loop pass: each row's public query call, then writing its
    * result, one after the other. */
  private def runPass(src: Path, tag: String, heavy: Boolean, docs: Long): PassResult = {
    val dataDir = copyTables(src, work.resolve(s"data-$tag"))
    val out = mkdirs(work.resolve(s"out-$tag"))
    val perRow = mutable.LinkedHashMap[String, Double]()
    val calls = mutable.ArrayBuffer[(Long, Long)]()
    val plans = mutable.LinkedHashMap[String, DataFrame]()
    val t0 = now
    phase(s"pass $tag") {
      CurationRows.foreach { name =>
        val r0 = now
        attempted += 1
        try tracer("queries", name) {
          tracer.count("input_docs", docs)
          val b0 = System.currentTimeMillis()
          val df = tracer("api", s"SparkEntry.queries($name)") {
            graft.SparkEntry.queries(name)(spark, dataDir.toString)
          }
          calls += ((b0, System.currentTimeMillis()))
          plans(name) = df
          if (heavy) HeavyExprs.count(df).foreach { case (k, v) =>
            layers(k) = (layers.get(k).fold(0.0)(_._1) + v, "count")
          }
          tracer("exec", "write result") {
            df.coalesce(1).write.mode("overwrite").parquet(out.resolve(name).toString)
          }
        } catch { case NonFatal(e) => fail(name, e) }
        perRow(name) = secs(r0)
      }
    }
    val wall = secs(t0)
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => CurationRows.contains(k) }
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.obj(oracle.toSeq.map { case (k, v) => k -> Json.str(v) }))
    PassResult(wall, perRow.toMap, out, dataDir, calls.toSeq, plans.toMap)
  }

  private def curation(): Unit = {
    val tables = Paths.get(data, "tables")
    info("rows") = CurationRows.map(Json.str).mkString("[", ",", "]")

    // set-up: read the corpus through the library's loader
    var docs = 0L
    val setupTimes = phase("setup") {
      (0 until 3).map { r =>
        val dir = copyTables(tables, work.resolve(s"setup$r"))
        val t0 = now
        docs = tracer("api", "Tables.documents") {
          graft.Tables.documents(spark, dir.toString).count()
        }
        val t = secs(t0)
        deleteTree(dir)
        t
      }
    }
    metrics("setup_s") = (median(setupTimes), "s")
    info("setup_s_samples") = setupTimes.map(Json.num).mkString("[", ",", "]")

    phase("warm-up") {
      (0 until 2).foreach(i => runPass(tables, s"warm$i", heavy = false, docs))
    }
    settle()

    /** Passes until `budget` seconds are used up. */
    def timed(label: String, budget: Double, heavy: Boolean = false): Seq[PassResult] = {
      val res = mutable.ArrayBuffer[PassResult]()
      val t0 = now
      phase(label) {
        while (res.isEmpty || (secs(t0) + res.map(_.wall).max <= budget)) {
          res += runPass(tables, s"${label.replace(" ", "_")}${res.size}",
            heavy = heavy && res.isEmpty, docs)
          settle()
        }
      }
      res.toSeq
    }

    def record(ps: Seq[PassResult]): Map[String, (Double, String)] = Map(
      "run_s" -> (median(ps.map(_.wall)), "s"),
      "throughput_rps" -> (docs * CurationRows.size * ps.size / ps.map(_.wall).sum, "1/s"))
    // a curation client's unit of work is one public query call
    def callMs(ps: Seq[PassResult]): Seq[Double] =
      ps.flatMap(pr => CurationRows.flatMap(pr.perRow.get)).map(_ * 1000)

    val passes = if (!traced) timed("timed", seconds) else {
      // untraced, traced, traced, untraced halves (see streaming)
      val u1 = untracedPhase(timed("timed untraced 1", seconds / 2))
      exec.reset()
      exec.attach(spark)
      val t1 = timed("timed traced 1", seconds / 2, heavy = true)
      val t2 = timed("timed traced 2", seconds / 2)
      org.apache.spark.sql.perfbench.Internals.drainBus(spark)
      exec.detach(spark)
      val u2 = untracedPhase(timed("timed untraced 2", seconds / 2))
      val tp = t1 ++ t2
      record(tp).foreach { case (k, v) => tracedValues(k) = v._1 }
      tracedSamples("batch_ms") = callMs(tp)
      execLayers(tp.size.toDouble, tp.map(_.wall).sum)
      val jobs = exec.jobs
      layers("exec.driver_jobs") = (tp.map(_.calls.map { case (a, b) =>
        jobs.count { case (s, _) => s >= a && s <= b }
      }.sum).sum.toDouble / tp.size, "count")
      CurationRows.foreach { name =>
        layers(s"operators.${OperatorStage(name)}_ms") =
          (median(tp.map(_.perRow(name))) * 1000, "ms")
      }
      candidatePairs(tp.last)
      u1 ++ u2
    }
    metrics ++= record(passes)
    samples("batch_ms") = callMs(passes)
    info("batch_unit") = Json.str("one public query call and the write of its result")
    info("passes") = passes.size.toString
    info("pass_s") = passes.map(p => Json.num(p.wall)).mkString("[", ",", "]")
    info("row_s") = Json.obj(CurationRows.map(r =>
      r -> Json.num(median(passes.map(_.perRow.getOrElse(r, Double.NaN))))))
    readBack(passes.last)

    // the last timed pass against the oracles, the others against it
    val rowsJson = CurationRows.map(Json.str).mkString("[", ",", "]")
    addCheck("oracle_rows", "data" -> Json.str(passes.last.dataDir.toString),
      "out" -> Json.str(passes.last.out.toString), "rows" -> rowsJson)
    passes.init.foreach { pr =>
      addCheck("same_rows", "out" -> Json.str(pr.out.toString),
        "ref" -> Json.str(passes.last.out.toString), "rows" -> rowsJson)
    }
  }

  /** The batch workload's committed results read back through the
    * library's table loader, and a restart: a fresh session's first
    * result row of the first query. Each a fraction of a second: median
    * of five. */
  private def readBack(pass: PassResult): Unit = {
    // the loader reads `<dir>/<name>.parquet`: link the results there
    val rb = mkdirs(work.resolve("readback"))
    CurationRows.foreach { r =>
      val to = mkdirs(rb.resolve(s"$r.parquet"))
      Files.list(pass.out.resolve(r)).forEach(f => Files.createLink(to.resolve(f.getFileName), f))
    }
    val reads = (0 until 5).map { _ =>
      val t0 = now
      phase("state-read") {
        CurationRows.foreach(r => tracer("api", s"Tables.load($r)") {
          graft.Tables.load(spark, rb.toString, r).count()
        })
      }
      secs(t0)
    }
    metrics("state_read_s") = (median(reads), "s")
    val first = CurationRows.head
    val times = (0 until 5).map { _ =>
      val t1 = now
      phase("restore") {
        tracer("api", s"SparkEntry.queries($first) in a new session") {
          graft.SparkEntry.queries(first)(spark.newSession(), pass.dataDir.toString).head()
        }
      }
      secs(t1)
    }
    metrics("restore_s") = (median(times), "s")
  }

  /** Rows of x17's LSH band join as its own optimized plan builds it:
    * candidates (the join on band keys alone; a pair counts once per band
    * it shares) and the share of them that pass its Jaccard verification,
    * in the same unit. */
  private def candidatePairs(pass: PassResult): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
    val plan = pass.plans("x17_fuzzy_decontaminate").queryExecution.optimizedPlan
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val join = plan.collectFirst {
      case j: Join if j.condition.exists(_.references.exists(_.name == "__band")) => j
    }
    join match {
      case None => errors += "candidate pairs: no band join in x17's optimized plan"
      case Some(j) =>
        val (keys, rest) = conjuncts(j.condition.get).partition(_.isInstanceOf[EqualTo])
        // the verification is the join's non-key condition, or else the
        // lowest filter above the join
        val above = plan.collect { case f: Filter if f.find(_ eq j).isDefined => f }
        val verifiedPlan: LogicalPlan = if (rest.nonEmpty) j
          else above.find(f => !above.exists(g => (g ne f) && f.find(_ eq g).isDefined))
            .getOrElse(j)
        val (cand, verified) = tracer("operators", "x17 band join rows") {
          (org.apache.spark.sql.perfbench.Internals.count(spark,
            j.copy(condition = keys.reduceOption(And))),
            org.apache.spark.sql.perfbench.Internals.count(spark, verifiedPlan))
        }
        layers("operators.candidate_pairs") = (cand.toDouble, "count")
        layers("operators.useful_pair_ratio") =
          (if (cand > 0) verified.toDouble / cand else 0.0, "ratio")
    }
  }

  // ---- artifact ------------------------------------------------------------

  def json: String = {
    def m(x: mutable.LinkedHashMap[String, (Double, String)]) = Json.obj(x.map {
      case (k, (v, u)) => k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    })
    def smp(x: mutable.LinkedHashMap[String, Seq[Double]]) =
      Json.obj(x.map { case (k, v) => k -> v.map(Json.num).mkString("[", ",", "]") })
    Json.obj(Seq(
      "metrics" -> m(metrics),
      "samples" -> smp(samples),
      "traced_values" -> Json.obj(tracedValues.map { case (k, v) => k -> Json.num(v) }),
      "traced_samples" -> smp(tracedSamples),
      "per_layer" -> m(layers),
      "info" -> Json.obj(info ++ Seq("phase_s" ->
        Json.obj(phaseSecs.map { case (k, v) => k -> Json.num(v) }))),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "checks" -> checks.mkString("[", ",", "]"),
      "spans" -> (if (traced) tracer.json else "[]")))
  }
}

/** Heavy-expression census of a query's optimized plan: text/vector
  * natives, regex and split, and higher-order-function lambdas, and how
  * many of them repeat an identical subtree within one operator. */
object HeavyExprs {
  import org.apache.spark.sql.catalyst.expressions._

  private def heavy(e: Expression): Boolean = e match {
    case _: StringSplit | _: RLike | _: RegExpReplace | _: RegExpExtract |
        _: RegExpExtractAll | _: HigherOrderFunction => true
    case x => x.getClass.getName.startsWith("graft.functions.")
  }

  def count(df: DataFrame): Map[String, Double] = {
    var total = 0.0
    var dups = 0.0
    df.queryExecution.optimizedPlan.foreach { node =>
      val hs = node.expressions.flatMap(_.collect { case e if heavy(e) => e.canonicalized })
      total += hs.size
      dups += hs.size - hs.distinct.size
    }
    Map("functions.heavy_exprs" -> total, "functions.heavy_expr_dups" -> dups)
  }
}
