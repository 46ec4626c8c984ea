package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SizeEstimator

/** Driver-side derivations done once per table version, not once per
  * query. Scoped to a `SparkContext`: stopping the context drops all of its
  * entries.
  *
  *  - [[parquet]] keeps each path's inferred schema under the read's
  *    leaf-file fingerprint, so a repeat read skips the schema-inference job.
  *  - [[derived]] keeps a structure built from a dimension layer (a
  *    broadcast probe index, a persisted pair table) under the layer's
  *    canonicalized analyzed plan, the derivation's kind and parameters. A
  *    layer read from anything but files, or with a non-deterministic
  *    expression, is never kept. A changed fingerprint rebuilds the entry
  *    and releases the old one; past [[BudgetBytes]] the least recently
  *    used entries are released.
  *
  * The fingerprint is every leaf file's (path, length, modification time),
  * taken from the listing the read already made. */
object TableMemo {

  type Fingerprint = Seq[(String, Long, Long)]

  /** Bytes of derived entries one context keeps. The entry just built is
    * always kept, so one entry larger than this still serves its query. */
  val BudgetBytes: Long = 256L << 20

  /** A derived value, its size estimate and how to free it. */
  final case class Held[T](value: T, bytes: Long, release: () => Unit)

  object Held {
    /** A broadcast, sized by its value; released by destroying it. */
    def broadcast[T](bc: Broadcast[T]): Held[Broadcast[T]] =
      Held(bc, SizeEstimator.estimate(bc.value.asInstanceOf[AnyRef]), () => bc.destroy())
  }

  private final case class Key(kind: String, plan: LogicalPlan, params: Seq[Any])
  private final case class Entry(fp: Fingerprint, held: Held[_])

  private final class Store {
    val schemas = mutable.Map.empty[Seq[String], (Fingerprint, StructType)]
    /** access-ordered: iteration starts at the least recently used */
    val derived = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
    var bytes = 0L
  }

  private val stores = mutable.Map.empty[SparkContext, Store]

  private def store(spark: SparkSession): Store = synchronized {
    stores.filterInPlace((sc, _) => !sc.isStopped)
    val sc = spark.sparkContext
    stores.getOrElseUpdate(sc, {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          TableMemo.synchronized { stores.remove(sc); () }
      })
      new Store
    })
  }

  /** `spark.read.parquet(paths: _*)`, with the schema inferred once per
    * version of the files under `paths`. */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val st = store(spark)
    val warm = st.synchronized(st.schemas.get(paths)).flatMap { case (fp, schema) =>
      val df = spark.read.schema(schema).parquet(paths: _*)
      if (fingerprint(df).contains(fp)) Some(df) else None
    }
    warm.getOrElse {
      val df = spark.read.parquet(paths: _*)
      fingerprint(df).foreach(fp => st.synchronized(st.schemas(paths) = (fp, df.schema)))
      df
    }
  }

  /** The leaf-file fingerprint of `df`'s input, or None when `df` reads
    * anything but files or has a non-deterministic expression. */
  def fingerprint(df: DataFrame): Option[Fingerprint] = fingerprint(df.queryExecution.analyzed)

  private def fingerprint(plan: LogicalPlan): Option[Fingerprint] = {
    val files = plan.collectLeaves().map {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location match {
          case idx: PartitioningAwareFileIndex =>
            Some(idx.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime)))
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }
    if (files.isEmpty || files.contains(None) || plan.exists(_.expressions.exists(!_.deterministic))) None
    else Some(files.flatten.flatten.sorted)
  }

  /** `build`'s value, built once per (kind, `layer`'s plan and file
    * fingerprint, `params`) in this context. */
  def derived[T](spark: SparkSession, kind: String, layer: DataFrame, params: Any*)
                (build: => Held[T]): T = {
    val plan = layer.queryExecution.analyzed
    fingerprint(plan) match {
      case None => build.value
      case Some(fp) =>
        val st = store(spark)
        val key = Key(kind, plan.canonicalized, params)
        def hit: Option[T] = Option(st.derived.get(key)).filter(_.fp == fp)
          .map(_.held.value.asInstanceOf[T])
        st.synchronized(hit).getOrElse {
          val held = build
          st.synchronized(hit match {
            case Some(v) => held.release(); v // another thread built it first
            case None =>
              Option(st.derived.put(key, Entry(fp, held))).foreach(old => drop(st, old))
              st.bytes += held.bytes
              val lru = st.derived.entrySet().iterator()
              while (st.bytes > BudgetBytes && st.derived.size > 1) {
                val e = lru.next()
                if (e.getKey != key) { lru.remove(); drop(st, e.getValue) }
              }
              held.value
          })
        }
    }
  }

  private def drop(st: Store, e: Entry): Unit = {
    st.bytes -= e.held.bytes
    e.held.release()
  }

  /** Number of derived entries `spark`'s context holds. */
  private[graft] def size(spark: SparkSession): Int = {
    val st = store(spark)
    st.synchronized(st.derived.size)
  }
}
