package graft.api

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.SparkTestBase
import graft.operators.{IndexOperator, TimerContext}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** One scripted index operation: `op` picks the call (see [[ScriptOp]]),
  * `k` is the map key and `v` the value argument. `seq` orders a
  * grouping key's operations. */
case class OpEv(key: Int, seq: Int, op: Int, k: Int, v: Long)

/** The result of one scripted operation, rendered as text. */
case class OpOut(key: Int, seq: Int, res: String)

/** Runs each event's operation against a value index and a map index
  * and emits its result, so two backends can be compared call by call. */
class ScriptOp extends IndexOperator[Int, OpEv, OpOut] {
  @transient private var v: ValueIndex[Long] = _
  @transient private var m: MapIndex[Int, Long] = _
  def open(state: IndexState): Unit = {
    v = state.value[Long]("v")(Encoders.scalaLong)
    m = state.map[Int, Long]("m")(Encoders.scalaInt, Encoders.scalaLong)
  }
  def handleElement(key: Int, e: OpEv, ts: Option[Long],
      ctx: TimerContext): Iterator[OpOut] = {
    val res = e.op match {
      case ScriptOp.VPut => v.put(e.v); ""
      case ScriptOp.VGet => v.get.toString
      case ScriptOp.VClear => v.clear(); ""
      case ScriptOp.VTake => v.take().toString
      case ScriptOp.VRmw => v.rmw(e.v)(_ + 1L).toString
      case ScriptOp.MGet => m.get(e.k).toString
      case ScriptOp.MPut => m.put(e.k, e.v); ""
      case ScriptOp.MRemove => m.remove(e.k); ""
      case ScriptOp.MContains => m.contains(e.k).toString
      case ScriptOp.MEntries =>
        val es = m.entries.toSeq.sorted
        s"${es.size}:${es.take(8).mkString(",")}:${es.hashCode}"
      case ScriptOp.MClear => m.clear(); ""
    }
    Iterator.single(OpOut(key, e.seq, res))
  }
}

object ScriptOp {
  val VPut = 0; val VGet = 1; val VClear = 2; val VTake = 3; val VRmw = 4
  val MGet = 5; val MPut = 6; val MRemove = 7; val MContains = 8
  val MEntries = 9; val MClear = 10
}

/** Element `v` of a key at time `ts`. */
case class TEv(key: Int, ts: Timestamp, v: Long)

/** Stores each element's value and arms a timer 1 s later; the timer
  * reports the stored value and the number of map entries, then adds
  * 100 to the stored value. */
class TimerReadOp extends IndexOperator[Int, TEv, (Int, Long, Int)] {
  @transient private var last: ValueIndex[Long] = _
  @transient private var seen: MapIndex[Long, Long] = _
  def open(state: IndexState): Unit = {
    last = state.value[Long]("last")(Encoders.scalaLong)
    seen = state.map[Long, Long]("seen")(Encoders.scalaLong, Encoders.scalaLong)
  }
  def handleElement(key: Int, e: TEv, ts: Option[Long],
      ctx: TimerContext): Iterator[(Int, Long, Int)] = {
    last.put(e.v)
    seen.put(e.v, ts.get)
    ctx.scheduleAt(ts.get + 1000)
    Iterator.empty
  }
  override def handleTimer(key: Int, firedAt: Long,
      ctx: TimerContext): Iterator[(Int, Long, Int)] = {
    val out = (key, last.get.getOrElse(-1L), seen.entries.size)
    last.put(out._2 + 100)
    Iterator(out)
  }
}

/** The write-back transformWithState indexes must be indistinguishable
  * from the in-memory replay: same results call by call, whatever the
  * micro-batch split, across timers and across a kill→restore, and
  * past the map cache's capacity. */
class TwsIndexStateSpec extends SparkTestBase {
  import spark.implicits._

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val NoDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  private def withConfs[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(p)) => spark.conf.set(k, p)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def withRocksDb[A](body: => A): A = withConfs(ProviderKey ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Drive `batches` through [[ScriptOp]] on transformWithState, one
    * micro-batch each; before batch `restartBefore` the query is stopped
    * and a new one resumes on the same checkpoint. Returns every emitted
    * row and the data batches' progress. */
  private def runScript(batches: Seq[Seq[OpEv]],
      restartBefore: Int = -1): (Seq[OpOut], Seq[StreamingQueryProgress]) = withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[OpEv]
    val out = new Stream(input.toDS(), SourceConf[OpEv]())
      .keyBy(_.key)
      .indexOperator(new ScriptOp)(Encoders.product[OpOut])
    val byBatch = new java.util.concurrent.ConcurrentHashMap[Long, Seq[OpOut]]()
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val ckpt = Files.createTempDirectory("tws-index-spec")
    def start() = out.ds.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[OpOut], id: Long) =>
        byBatch.put(id, df.collect().toSeq); ()
      }.start()
    var q = start()
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        if (i == restartBefore) {
          q.stop()
          q = start()
        }
        input.addData(b)
        q.processAllAvailable()
      }
      progress ++= q.recentProgress.filter(_.numInputRows > 0)
    } finally {
      q.stop()
      deleteTree(ckpt)
    }
    (byBatch.values.asScala.flatten.toSeq, progress.toSeq)
  }

  /** The same events per key through the bounded in-memory replay. */
  private def replay(evs: Seq[OpEv]): Seq[OpOut] =
    evs.groupBy(_.key).toSeq.flatMap { case (k, es) =>
      IndexOperator.runBounded(new ScriptOp, None, k, es.sortBy(_.seq).iterator)
    }

  private def sorted(rows: Seq[OpOut]): Seq[OpOut] = rows.sortBy(r => (r.key, r.seq))

  private val genOp: Gen[(Int, Int, Long)] = for {
    op <- Gen.frequency(
      3 -> ScriptOp.VPut, 3 -> ScriptOp.VGet, 1 -> ScriptOp.VClear,
      2 -> ScriptOp.VTake, 3 -> ScriptOp.VRmw, 4 -> ScriptOp.MGet,
      4 -> ScriptOp.MPut, 2 -> ScriptOp.MRemove, 3 -> ScriptOp.MContains,
      2 -> ScriptOp.MEntries, 1 -> ScriptOp.MClear)
    k <- Gen.choose(0, 5)
    v <- Gen.choose(0L, 99L)
  } yield (op, k, v)

  /** Operations spread over three grouping keys, cut into one to four
    * micro-batches, with an optional restart before one of them. */
  private val genScript: Gen[(Seq[Seq[OpEv]], Int)] = for {
    n <- Gen.choose(20, 60)
    ops <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 2), genOp))
    cuts <- Gen.listOfN(3, Gen.choose(1, n - 1))
    restart <- Gen.choose(-1, 3)
  } yield {
    val evs = ops.zipWithIndex.map { case ((key, (op, k, v)), i) => OpEv(key, i, op, k, v) }
    val bounds = (0 +: cuts.distinct.sorted :+ n)
    val batches = bounds.zip(bounds.tail).map { case (a, b) => evs.slice(a, b) }
    (batches, restart)
  }

  test("write-back indexes emit what the in-memory replay emits, for any op sequence, batch split and restore point") {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6),
      Prop.forAllNoShrink(genScript) { case (batches, restart) =>
        val (got, _) = runScript(batches, restart)
        val want = replay(batches.flatten)
        val ok = sorted(got) == sorted(want)
        if (!ok) println(s"[TwsIndexStateSpec] restart=$restart batches=$batches\n" +
          s"  got:  ${sorted(got)}\n  want: ${sorted(want)}")
        ok
      })
    assert(res.passed, res.status.toString)
  }

  test("more distinct map keys in one call than the cache holds: early write-back keeps every entry") {
    val cap = TwsIndexState.MapCacheCapacity
    val n = cap + 500
    var seq = 0
    def ev(op: Int, k: Int = 0, v: Long = 0L): OpEv = { seq += 1; OpEv(0, seq, op, k, v) }
    // key 0 is written, dropped from the cache by the overflow, then
    // read, overwritten and removed again within the same call
    val first = Seq(ev(ScriptOp.MPut, 0, 7L), ev(ScriptOp.VRmw, v = 0L)) ++
      (1 until n).map(k => ev(ScriptOp.MPut, k, k.toLong)) ++
      Seq(ev(ScriptOp.MGet, 0), ev(ScriptOp.MPut, 0, 8L), ev(ScriptOp.MRemove, 1),
        ev(ScriptOp.MContains, 1), ev(ScriptOp.MGet, n - 1), ev(ScriptOp.MEntries),
        ev(ScriptOp.VGet))
    val second = Seq(ev(ScriptOp.MGet, 0), ev(ScriptOp.MGet, 1), ev(ScriptOp.MGet, 2),
      ev(ScriptOp.MGet, n - 1), ev(ScriptOp.MEntries), ev(ScriptOp.VRmw))
    val (got, _) = runScript(Seq(first, second))
    val want = replay(first ++ second)
    assert(sorted(got) == sorted(want))
    val entries = sorted(got).filter(_.res.contains(":")).map(_.res.takeWhile(_ != ':'))
    assert(entries == Seq((n - 1).toString, (n - 1).toString))
  }

  test("a timer handler reads the state that handleInputRows wrote earlier in the same batch, and its writes persist") {
    withRocksDb {
      withConfs(NoDataKey -> "false") {
        implicit val sqlCtx = spark.sqlContext
        val input = MemoryStream[TEv]
        val out = new Stream(input.toDS(), SourceConf[TEv]())
          .withWatermark("ts", "0 seconds")
          .withTimestampExtractor(_.ts.getTime)
          .keyBy(_.key)
          .indexOperator(new TimerReadOp)(
            Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong, Encoders.scalaInt))
        val q = out.ds.writeStream.outputMode("append")
          .format("memory").queryName("tws_timer_reads").start()
        try {
          // batch 1: key 1 arms a timer at 2 s; key 2 lifts the watermark to 5 s
          input.addData(TEv(1, new Timestamp(1000), 1L), TEv(2, new Timestamp(5000), 7L))
          q.processAllAvailable()
          assert(spark.table("tws_timer_reads").count() == 0)
          // batch 2: key 1's new element is handled first, then its 2 s
          // timer fires under the 5 s watermark and must see value 42;
          // key 2 lifts the watermark to 9 s
          input.addData(TEv(1, new Timestamp(5500), 42L), TEv(2, new Timestamp(9000), 8L))
          q.processAllAvailable()
          def rows = spark.table("tws_timer_reads").as[(Int, Long, Int)].collect().toSet
          assert(rows == Set((1, 42L, 2)))
          // batch 3: key 2's 6 s and key 1's 6.5 s timers fire; key 1's
          // sees the 142 its previous timer wrote
          input.addData(TEv(3, new Timestamp(9500), 5L))
          q.processAllAvailable()
          assert(rows == Set((1, 42L, 2), (2, 8L, 2), (1, 142L, 2)))
        } finally q.stop()
      }
    }
  }

  test("RocksDB gets + puts per batch stay within 3x the distinct state keys touched, not the event count") {
    // 4 grouping keys × 50 map keys: 204 distinct state keys (4 values,
    // 200 map entries), 2,400 events of rmw / get / put per batch
    val keys = 4; val items = 50; val perBatch = 2400
    def batch(b: Int): Seq[OpEv] = (0 until perBatch).map { i =>
      val op = Seq(ScriptOp.VRmw, ScriptOp.MGet, ScriptOp.MPut)(i % 3)
      OpEv(i % keys, b * perBatch + i, op, (i / keys) % items, i.toLong)
    }
    val (got, progress) = runScript(Seq(batch(0), batch(1)))
    assert(sorted(got) == sorted(replay(batch(0) ++ batch(1))))
    assert(progress.size == 2)
    val touched = keys + keys * items
    progress.foreach { p =>
      val m = p.stateOperators.head.customMetrics
      val calls = m.get("rocksdbGetCount").longValue + m.get("rocksdbPutCount").longValue
      assert(calls <= 3L * touched,
        s"batch ${p.batchId}: $calls RocksDB gets+puts for $touched state keys, $perBatch events")
    }
  }
}
