package graft

import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FileTable}

/** Bounded LRU memo of values derived from a frame's plan, scoped to a
  * Spark session — the analogue of the reference's per-session CSR
  * registry (a csr id, once built, serves every later query until
  * delete_csr; csr_creation checks existence first). Every driver-side
  * memo in graft is one of these.
  *
  * Key discipline: an entry lives at an INDEX ([[SessionMemo.Key]]:
  * session identity, 32-bit `semanticHash` of the analyzed plan, and a
  * variant string carrying whatever else the call site keys on — a gate
  * value, a slot name, a tag, key columns) and answers only under its
  * PROOF, [[SessionMemo.planIdentity]]. The hash is an index, never
  * proof: a collision, or a same-path re-read whose files changed, is a
  * miss that rebuilds — never another entry's value. The proof is taken
  * BY NAME, so a miss on the index never renders the plan; a call site
  * that both looks up and stores shares one `lazy val`. The session is
  * part of the index because a persisted frame dies with its session: a
  * later session with an identical plan must rebuild, not receive a
  * dead handle. A data change produces a different plan or token, so
  * entries never go stale; they merely age out.
  *
  * Ownership: `onEvict` releases every value the memo drops — LRU
  * eviction, displacement by an entry with a different proof, the loser
  * of a concurrent [[getOrBuild]], and [[clear]]. Frames persisted into
  * a memo are session state and live OUTSIDE [[OpCaches]] (the harness's
  * per-query `releaseAll()` must not tear them down, same rule as the
  * ANN index frames); callers never unpersist or track them, and a
  * dropped entry merely recomputes on next use. */
final class SessionMemo[V](val name: String, capacity: Int,
    onEvict: V => Unit = (_: V) => ()) {
  import SessionMemo.Key

  private final class Entry(val proof: String, val value: V)

  private val entries =
    new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry])
          : Boolean = {
        val evict = this.size() > capacity
        if (evict) onEvict(e.getValue.value)
        evict
      }
    }

  private val missCount = new AtomicLong(0L)

  private def same(a: V, b: V): Boolean =
    a.asInstanceOf[AnyRef] eq b.asInstanceOf[AnyRef]

  /** The value at `key` if its proof equals `proof`, else None (counted
    * as a miss). `proof` is evaluated only when the index hits. */
  def get(key: Key, proof: => String): Option[V] = {
    val hit = entries.synchronized(Option(entries.get(key)))
    val res = hit.filter(_.proof == proof).map(_.value)
    if (res.isEmpty) missCount.incrementAndGet()
    res
  }

  /** Store `value` at `key` under `proof`; the value it displaces, if
    * any, goes to `onEvict`. */
  def put(key: Key, proof: => String, value: V): Unit = {
    val p = proof
    entries.synchronized {
      val prev = entries.put(key, new Entry(p, value))
      if (prev != null && !same(prev.value, value)) onEvict(prev.value)
    }
  }

  /** The valid value at `key`, else `build`'s. The build runs OUTSIDE
    * the lock, so a slow build never blocks other lookups; the index is
    * then re-checked under the lock. If a concurrent build under the
    * same proof got there first, the fresh value goes to `onEvict` and
    * the stored one is returned; an entry under a different proof is
    * displaced to `onEvict`. Either way no released value stays stored
    * and no stored value leaks. */
  def getOrBuild(key: Key, proof: => String)(build: => V): V = {
    lazy val p = proof
    get(key, p).getOrElse {
      val built = build
      entries.synchronized {
        val cur = entries.get(key)
        if (cur != null && cur.proof == p) {
          if (!same(cur.value, built)) onEvict(built)
          cur.value
        } else {
          entries.put(key, new Entry(p, built))
          if (cur != null && !same(cur.value, built)) onEvict(cur.value)
          built
        }
      }
    }
  }

  /** [[getOrBuild]] indexed and proved by `df`'s plan. */
  def getOrBuild(df: DataFrame, variant: String)(build: => V): V =
    getOrBuild(SessionMemo.key(df, variant), SessionMemo.planIdentity(df))(
      build)

  /** Drop every entry, running `onEvict` on each. */
  def clear(): Unit = entries.synchronized {
    entries.values().forEach(e => onEvict(e.value))
    entries.clear()
  }

  def size: Int = entries.synchronized(entries.size())

  /** Lookups that found no valid entry — for a [[getOrBuild]]-only
    * memo, the number of builds. */
  def misses: Long = missCount.get()

  override def toString: String = s"SessionMemo($name, $size/$capacity)"
}

object SessionMemo {

  /** Index of a memo entry: session identity, analyzed-plan
    * `semanticHash`, call-site variant. */
  final case class Key(session: Int, planHash: Int, variant: String)

  def key(df: DataFrame, variant: String): Key =
    Key(System.identityHashCode(df.sparkSession),
      df.queryExecution.analyzed.semanticHash(), variant)

  /** Canonical plan identity, the proof of every memo entry: the
    * canonicalized plan (semanticHash's own preimage) rendered as text,
    * plus [[dataSnapshotToken]]. O(plan-size) string render, hence
    * passed by name.
    *
    * The canonicalized string alone is NOT enough for session-lived
    * memos: Spark compares file relations by their root paths, so a
    * re-read of the same directory after files were appended or
    * overwritten canonicalizes identically and would validate a stale
    * entry (stale collected arrays / id mappings = wrong results, not a
    * perf miss). [[dataSnapshotToken]] folds the LISTED FILES
    * (path, length, mtime) of every file-source leaf into the proof, so
    * the moment Spark's file index sees new data (fresh read or
    * `refreshByPath`) every memo keyed on the plan misses and rebuilds. */
  def planIdentity(df: DataFrame): String =
    df.queryExecution.analyzed.canonicalized.toString +
      "#tok=" + dataSnapshotToken(df)

  /** Monotonic salt for [[dataSnapshotToken]]'s failure path: a leaf
    * whose file index cannot be read contributes a NEVER-REPEATING value
    * instead of a constant, so a consistently-failing leaf still
    * invalidates (rather than silently re-validating) any memo entry
    * built over it. */
  private val tokenFailSalt = new AtomicLong(1L)

  /** Order-independent fold of (path, length, modificationTime) over the
    * file listings of every file-source scan leaf — the data-snapshot
    * component of [[planIdentity]]. Driver cost is a loop over the file
    * index's already-materialized listing (the same statuses Spark walked
    * to plan the scan). Non-file leaves (local relations, RDD-backed
    * checkpoints) contribute nothing, and their canonicalized STRING
    * does not show their rows or RDD either (`LocalRelation [none#0L]`):
    * for them only the index's semanticHash, whose preimage does, tells
    * two data sets apart. An unreadable index contributes a fresh
    * salt, so a non-fatal failure forces a memo miss (rebuild), never a
    * stale hit; a fatal error (OOM) propagates. */
  def dataSnapshotToken(df: DataFrame): Long =
    df.queryExecution.analyzed.collectLeaves().map { leaf =>
      try leafFiles(leaf).fold(0L)(_.iterator.map { f =>
        var h = f.getPath.toString.hashCode.toLong * 0x9E3779B97F4A7C15L
        h ^= java.lang.Long.rotateLeft(f.getLen, 17)
        h ^ java.lang.Long.rotateLeft(f.getModificationTime, 41)
      }.foldLeft(0L)(_ + _))
      catch { case NonFatal(_) => tokenFailSalt.incrementAndGet() }
    }.sum

  /** The files Spark's index lists behind a file-source scan leaf (v1
    * `HadoopFsRelation` or v2 `FileTable`); None for any other leaf. */
  private[graft] def leafFiles(leaf: LogicalPlan)
      : Option[Seq[FileStatusWithMetadata]] = leaf match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        Some(fs.location.listFiles(Nil, Nil).flatMap(_.files))
      case _ => None
    }
    case v2: DataSourceV2Relation => v2.table match {
      case ft: FileTable =>
        Some(ft.fileIndex.listFiles(Nil, Nil).flatMap(_.files))
      case _ => None
    }
    case _ => None
  }
}
