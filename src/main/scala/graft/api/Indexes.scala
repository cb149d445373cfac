package graft.api

import scala.collection.mutable
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.streaming.{ListState, MapState, StatefulProcessorHandle, TTLConfig, ValueState}

/** The reference's user-facing state-index layer re-expressed for Spark
  * (`/root/reference/arcon/src/index/mod.rs:33-198`): `ValueIndex`
  * (put/get/take/clear/rmw), `AppenderIndex` (append/consume/len) and
  * `MapIndex`, declared by name against a backing store. Two backends:
  *
  *  - [[TwsIndexState]] — arcon's Lazy variants (`LazyValue`, and the
  *    `HashTable` modification lane over `MapState`,
  *    `arcon/src/index/hash_table/mod.rs:62-103`): `transformWithState`
  *    state variables (keyed RocksDB/HDFS state, checkpointed by the
  *    engine, scoped to the current grouping key) behind a write-back
  *    cache. A value index reads its variable at most once per
  *    grouping-key call and writes it back at most once; a map index
  *    reads each touched key at most once and writes back each dirty
  *    key once. The flush points are the end of every
  *    `handleInputRows` and `handleExpiredTimer` output iterator
  *    ([[KeyedStream.indexOperator]]) — the engine commits a micro-batch's
  *    state atomically, so nothing outside the task sees the cache. A
  *    map index's cache holds at most 8,192 keys (the constant
  *    `TwsIndexState.MapCacheCapacity`); when it is full, the dirty
  *    entries are written back early and the cache is dropped.
  *    `entries` writes back and `clear` drops the dirty entries before
  *    touching the store. Appender indexes are not cached: an append is
  *    already one state-store merge.
  *  - [[LocalIndexState]] — arcon's Local variants: plain in-memory
  *    maps for bounded per-key replay (and unit tests).
  *
  * `MapIndex` keys need value equality (`equals`/`hashCode`), which
  * both backends assume: the local map and the write-back cache are
  * hash maps, so array keys compare by reference in both.
  */
trait ValueIndex[T] {
  def get: Option[T]
  def put(v: T): Unit
  def clear(): Unit
  /** take() = get + clear — the reference's `take` contract. */
  def take(): Option[T] = { val v = get; clear(); v }
  /** Read-modify-write with a default for the empty case (`rmw`). */
  def rmw(default: => T)(f: T => T): T = {
    val next = f(get.getOrElse(default))
    put(next)
    next
  }
}

trait AppenderIndex[T] {
  def append(v: T): Unit
  def get: Seq[T]
  def length: Int = get.length
  /** consume() = drain: return the buffer and clear it. */
  def consume(): Seq[T] = { val v = get; clear(); v }
  def clear(): Unit
}

trait MapIndex[A, B] {
  def get(k: A): Option[B]
  def put(k: A, v: B): Unit
  def remove(k: A): Unit
  def contains(k: A): Boolean = get(k).isDefined
  def entries: Iterator[(A, B)]
  def clear(): Unit
}

/** Factory for named indexes — `#[derive(ArconState)]`'s field
  * declarations (`arcon_macros/src/state.rs:56-103`) become `open()`
  * calls against this. */
trait IndexState {
  def value[T](name: String)(implicit enc: Encoder[T]): ValueIndex[T]
  def appender[T](name: String)(implicit enc: Encoder[T]): AppenderIndex[T]
  def map[A, B](name: String)(implicit kEnc: Encoder[A], vEnc: Encoder[B]): MapIndex[A, B]
}

// ---------------------------------------------------------------------
// transformWithState backend (streaming): state variables are
// key-scoped by the engine; one handle-derived state object serves
// every key of the partition, and its caches are flushed after every
// grouping-key call.
// ---------------------------------------------------------------------

final class TwsIndexState(handle: StatefulProcessorHandle) extends IndexState {
  private val cached = mutable.ArrayBuffer.empty[WriteBack]
  private def track[I <: WriteBack](i: I): I = { cached += i; i }

  def value[T](name: String)(implicit enc: Encoder[T]): ValueIndex[T] =
    track(new TwsValueIndex(handle.getValueState[T](name, enc, TTLConfig.NONE)))
  def appender[T](name: String)(implicit enc: Encoder[T]): AppenderIndex[T] =
    new TwsAppenderIndex(handle.getListState[T](name, enc, TTLConfig.NONE))
  def map[A, B](name: String)(implicit kEnc: Encoder[A], vEnc: Encoder[B]): MapIndex[A, B] =
    track(new TwsMapIndex(handle.getMapState[A, B](name, kEnc, vEnc, TTLConfig.NONE)))

  /** Write back every opened index's dirty state and drop its cache.
    * Runs while the grouping key of the call being flushed is set. */
  def flush(): Unit = cached.foreach(_.flush())
}

object TwsIndexState {
  /** Most keys a map index caches in one grouping-key call. */
  private[api] val MapCacheCapacity = 8192
}

private sealed trait WriteBack {
  def flush(): Unit
}

private final class TwsValueIndex[T](s: ValueState[T]) extends ValueIndex[T] with WriteBack {
  private var loaded = false
  private var dirty = false
  private var cur: Option[T] = None

  // ValueState.get() is null when absent; exists() is get() != null
  def get: Option[T] = {
    if (!loaded) { cur = Option(s.get()); loaded = true }
    cur
  }
  def put(v: T): Unit = { cur = Some(v); loaded = true; dirty = true }
  def clear(): Unit =
    if (!(loaded && cur.isEmpty)) { cur = None; loaded = true; dirty = true }
  def flush(): Unit = {
    if (dirty) cur match {
      case Some(v) => s.update(v)
      case None => s.clear()
    }
    loaded = false; dirty = false; cur = None
  }
}

private final class TwsAppenderIndex[T](s: ListState[T]) extends AppenderIndex[T] {
  def append(v: T): Unit = s.appendValue(v)
  def get: Seq[T] = s.get().toSeq
  def clear(): Unit = s.clear()
}

private final class TwsMapIndex[A, B](s: MapState[A, B]) extends MapIndex[A, B] with WriteBack {
  // Some(v) = present, None = absent; dirty keys differ from the store
  private val cache = mutable.HashMap.empty[A, Option[B]]
  private val dirty = mutable.HashSet.empty[A]

  def get(k: A): Option[B] = cache.get(k) match {
    case Some(v) => v
    case None =>
      val v = Option(s.getValue(k)) // null when absent
      remember(k, v)
      v
  }
  def put(k: A, v: B): Unit = { remember(k, Some(v)); dirty += k }
  def remove(k: A): Unit =
    if (!cache.get(k).contains(None)) { remember(k, None); dirty += k }
  def entries: Iterator[(A, B)] = { writeBack(); s.iterator() }
  def clear(): Unit = { dirty.clear(); cache.clear(); s.clear() }
  def flush(): Unit = { writeBack(); cache.clear() }

  private def remember(k: A, v: Option[B]): Unit = {
    if (cache.size >= TwsIndexState.MapCacheCapacity && !cache.contains(k)) flush()
    cache(k) = v
  }
  private def writeBack(): Unit = {
    dirty.foreach { k =>
      cache(k) match {
        case Some(v) => s.updateValue(k, v)
        case None => s.removeKey(k)
      }
    }
    dirty.clear()
  }
}

// ---------------------------------------------------------------------
// Local backend (bounded replay / tests) — arcon's Local* variants.
// ---------------------------------------------------------------------

final class LocalIndexState extends IndexState {
  def value[T](name: String)(implicit enc: Encoder[T]): ValueIndex[T] =
    new LocalValueIndex[T]
  def appender[T](name: String)(implicit enc: Encoder[T]): AppenderIndex[T] =
    new LocalAppenderIndex[T]
  def map[A, B](name: String)(implicit kEnc: Encoder[A], vEnc: Encoder[B]): MapIndex[A, B] =
    new LocalMapIndex[A, B]
}

private final class LocalValueIndex[T] extends ValueIndex[T] {
  private var v: Option[T] = None
  def get: Option[T] = v
  def put(x: T): Unit = v = Some(x)
  def clear(): Unit = v = None
}

private final class LocalAppenderIndex[T] extends AppenderIndex[T] {
  private val buf = mutable.ArrayBuffer.empty[T]
  def append(x: T): Unit = buf += x
  def get: Seq[T] = buf.toSeq
  def clear(): Unit = buf.clear()
}

private final class LocalMapIndex[A, B] extends MapIndex[A, B] {
  private val m = mutable.LinkedHashMap.empty[A, B]
  def get(k: A): Option[B] = m.get(k)
  def put(k: A, v: B): Unit = m(k) = v
  def remove(k: A): Unit = m.remove(k)
  def entries: Iterator[(A, B)] = m.iterator
  def clear(): Unit = m.clear()
}
