package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of everything a `SparkSession` accumulates between
  * queries. Each session has one store keyed by (data dir, tag), holding
  * three kinds of entry:
  *
  *  - `Plan`: a table DataFrame (`sources.Tables`). Only the logical plan
  *    and file metadata are kept, so repeated reads skip file listing and
  *    footer inference, and AQE can reuse exchanges across the identical
  *    subtrees; execution still scans parquet every time.
  *  - `Persisted`: an intermediate that several queries read (the shared
  *    shingle relation, sketch signatures, cluster labels), persisted once
  *    per (session, dir) at [[persistLevel]].
  *  - `Checkpoint`: the block behind an eager `localCheckpoint` of an
  *    iterative operator's loop state. A checkpointed Dataset has no
  *    CacheManager entry, so `Dataset.unpersist` on it is a silent no-op;
  *    the ledger keeps the underlying RDD so the block can be freed.
  *    Loops [[drop]] superseded iterates, so live blocks stay O(1) per
  *    loop; the final iterate stays until release. Unpersisting a
  *    checkpoint makes it unrecomputable, so only iterates no live plan
  *    reads again may be dropped.
  *
  * Entries live until [[release]] (the whole session, or one dir) or until
  * the application ends; release is the only teardown and frees every
  * kind. Get-or-build holds the session's monitor, which is re-entrant:
  * memo bodies nest (jaccardPairs → shingled → Tables) and a concurrent
  * first access must not persist an orphan copy. Different sessions never
  * contend.
  */
object SessionLedger {
  sealed trait Kind
  case object Plan extends Kind
  case object Persisted extends Kind
  case object Checkpoint extends Kind

  private final case class Entry(kind: Kind, df: DataFrame) {
    def free(): Unit = kind match {
      case Plan => ()
      case Persisted => df.unpersist(blocking = false)
      case Checkpoint => rddOf(df).foreach(_.unpersist(blocking = false))
    }
  }

  private type Store = mutable.HashMap[(String, String), Entry]

  // guarded by `stores`; SparkSession and SparkContext compare by identity
  private val stores = mutable.HashMap.empty[SparkSession, Store]
  private val hookedContexts = mutable.HashSet.empty[SparkContext]

  /** Deserialized MEMORY_AND_DISK reuse is fastest when the heap is roomy,
    * but deserialized block sizes are SizeEstimator estimates: under a
    * tight heap the underestimate lets the store overfill physical heap
    * before eviction starts (a 2 GiB full-registry run died of
    * OutOfMemoryError in q48 with every family memo warm, while q48 alone
    * passed). Serialized blocks are byte-exact accounted and ~4× smaller,
    * so below a 6 GiB max heap reuse pays deserialization CPU instead. */
  private[graft] def memoLevelFor(maxHeapBytes: Long): StorageLevel =
    if (maxHeapBytes < (6L << 30)) StorageLevel.MEMORY_AND_DISK_SER
    else StorageLevel.MEMORY_AND_DISK

  private[graft] val persistLevel: StorageLevel = memoLevelFor(Runtime.getRuntime.maxMemory)

  /** The session's store, hooking application end once per SparkContext so
    * a session that is never released does not pin its entries. */
  private def storeOf(spark: SparkSession): Store = stores.synchronized {
    val sc = spark.sparkContext
    if (hookedContexts.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
        val owned = stores.synchronized {
          hookedContexts -= sc
          stores.keys.filter(_.sparkContext eq sc).toList
        }
        owned.foreach(s => release(s))
      }
    })
    stores.getOrElseUpdate(spark, mutable.HashMap.empty)
  }

  private def getOrBuild(spark: SparkSession, dir: String, tag: String)(
      build: => Entry): DataFrame = {
    val store = storeOf(spark)
    store.synchronized(store.getOrElseUpdate((dir, tag), build).df)
  }

  /** The table DataFrame for (dir, name), built once per session. */
  def table(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    getOrBuild(spark, dir, s"table:$name")(Entry(Plan, build))

  /** `build`, persisted at [[persistLevel]] once per (session, dir, tag). */
  def persisted(spark: SparkSession, dir: String, tag: String)(
      build: => DataFrame): DataFrame =
    getOrBuild(spark, dir, tag)(Entry(Persisted, build.persist(persistLevel)))

  /** Eager localCheckpoint of `df`, its block recorded under `dir`. */
  def checkpoint(df: DataFrame, dir: String,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val cp = df.localCheckpoint(true, level)
    rddOf(cp).foreach(r =>
      getOrBuild(df.sparkSession, dir, s"checkpoint:${r.id}")(Entry(Checkpoint, cp)))
    cp
  }

  /** Free one superseded checkpoint now (loop-iterate eviction). */
  def drop(df: DataFrame): Unit = rddOf(df).foreach { r =>
    val spark = df.sparkSession
    val gone = stores.synchronized(stores.get(spark)).flatMap { store =>
      store.synchronized {
        store.keys.find(_._2 == s"checkpoint:${r.id}").flatMap(store.remove)
      }
    }
    free(gone.toList)
  }

  /** Free and forget every entry of `spark`. */
  def release(spark: SparkSession): Unit =
    free(stores.synchronized(stores.remove(spark)).toList.flatMap { store =>
      store.synchronized { val all = store.values.toList; store.clear(); all }
    })

  /** Free and forget the entries of one data dir, keeping the rest warm —
    * a long-lived session that is done with one corpus. */
  def release(spark: SparkSession, dir: String): Unit =
    free(stores.synchronized(stores.get(spark)).toList.flatMap { store =>
      store.synchronized {
        store.keys.filter(_._1 == dir).toList.flatMap(store.remove)
      }
    })

  private def free(entries: List[Entry]): Unit = entries.foreach { e =>
    try e.free() catch {
      case NonFatal(_) => () // context already stopped: nothing left to free
    }
  }

  /** The exact persisted RDD behind a localCheckpoint'd Dataset. */
  private def rddOf(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** What a session holds, by (dir, tag). */
  private[graft] def entries(spark: SparkSession): Map[(String, String), Kind] =
    stores.synchronized(stores.get(spark)).fold(Map.empty[(String, String), Kind]) {
      store => store.synchronized(store.map { case (k, e) => k -> e.kind }.toMap)
    }
}
