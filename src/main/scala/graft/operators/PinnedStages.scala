package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}

/** Registry for `localCheckpoint` block hygiene across a multi-query
  * session (the 91-query Verify/Bench sweeps, or a production session
  * running many pipeline stages back to back).
  *
  * Why it exists: `localCheckpoint` pins its blocks in executor storage
  * memory and the blocks are only reclaimed by the ContextCleaner when
  * the JVM garbage-collects the RDD reference — on a large heap that can
  * be *never* within a session's lifetime. Round 7's bench measured the
  * consequence: with ~90 queries' worth of pinned stages accumulated,
  * unrelated queries slowed 4-5x (storage pressure steals the unified
  * memory region execution would use, and pass 2 ran *slower* than pass
  * 1). On a real cluster the same leak evicts hot cached data and forces
  * shuffle spill. The fix is explicit: every checkpoint a query pins is
  * swept as soon as the query's action completes, EXCEPT stages
  * deliberately shared across queries (the dedup signature/pair/cluster
  * memos), which are registered here and survive until the memos
  * themselves are dropped.
  *
  * Safety rule: a locally-checkpointed RDD cannot recompute after its
  * blocks are removed (the checkpoint truncates lineage), so the sweep
  * must only run at a point where no un-registered checkpointed Dataset
  * will be referenced again — i.e. between queries, which is the only
  * place Bench/Verify call it. Cached-but-not-checkpointed RDDs caught
  * by the sweep merely recompute.
  */
object PinnedStages {
  private val shared = scala.collection.mutable.Set[Int]()

  /** `localCheckpoint` that registers the resulting blocks as SHARED so
    * [[sweepTransient]] leaves them alone. Registration reads the
    * checkpointed RDD's id straight off the returned Dataset's
    * `LogicalRDD` plan root (r15, ADVICE r14: the previous
    * before/after diff of the persistent-RDD set could misclassify a
    * concurrent build's transient pin as shared, and serialized every
    * eager build under this object's lock). Reliable-mode pins register
    * no persistent RDD and are correctly left unregistered. */
  def sharedCheckpoint[T](ds: Dataset[T],
      level: Option[org.apache.spark.storage.StorageLevel] = None): Dataset[T] = {
    val sc = ds.sparkSession.sparkContext
    val out = Pin.pin(ds, eager = true, level = level)
    val pinnedId = Pin.pinnedRdd(out).map(_.id)
    synchronized {
      pinnedId.filter(sc.getPersistentRDDs.contains).foreach(shared += _)
    }
    out
  }

  /** [[sharedCheckpoint]] that PRESERVES the relation's physical layout
    * (r15). Under AQE, `Dataset.localCheckpoint` records
    * UnknownPartitioning and no ordering in the LogicalRDD (measured on
    * 4.1.2), so consumers re-exchange and re-sort relations that were
    * deliberately repartitioned/sorted before the pin. Planning the
    * checkpoint with AQE off records the HashPartitioning + ordering,
    * letting co-partitioned consumers skip the exchange and the sort
    * entirely (the graph family's edge-resident layouts). AQE stays on
    * for every consumer; only this build plans without it — the pinned
    * builds here are simple repartition/aggregate shapes that need no
    * runtime re-optimization.
    *
    * Thread safety (r16, VERDICT r15 #7): the AQE-off conf is set on an
    * ISOLATED child session (`newSession` — shares the SparkContext,
    * own SQL conf), never the caller's — the r15 version flipped the
    * shared session conf set/finally-restore style, so a concurrent
    * query planning in the same session during a build would silently
    * plan without AQE. The relation crosses sessions both ways through
    * GLOBAL temp views (the documented cross-session seam); the pinned
    * LogicalRDD — which carries the partitioning/ordering as node
    * fields, and whose checkpoint blocks live in the shared
    * SparkContext — is handed back to the caller's session eagerly
    * analyzed, so both views are dropped before returning. The
    * `graft.pin.*` confs are copied onto the child so reliable-mode /
    * explain-hook behavior is unchanged. */
  def sharedCheckpointPartitioned(ds: Dataset[_],
      level: Option[org.apache.spark.storage.StorageLevel] = None): org.apache.spark.sql.DataFrame = {
    val spark = ds.sparkSession
    val id = java.util.UUID.randomUUID().toString.replace("-", "")
    val srcView = s"graft_pin_src_$id"
    val outView = s"graft_pin_out_$id"
    val db = spark.conf.get("spark.sql.globalTempDatabase", "global_temp")
    ds.createOrReplaceGlobalTempView(srcView)
    try {
      val child = spark.newSession()
      Seq(Pin.ModeKey, Pin.DirKey, Pin.ExplainDirKey, Pin.ExplainTagKey,
        Pin.TimeKey).foreach { k =>
        spark.conf.getOption(k).foreach(child.conf.set(k, _))
      }
      child.conf.set("spark.sql.adaptive.enabled", "false")
      val pinned = sharedCheckpoint(child.table(s"$db.$srcView"), level)
      pinned.createOrReplaceGlobalTempView(outView)
      try {
        spark.table(s"$db.$outView") // analyzed eagerly: embeds the LogicalRDD
      } finally spark.catalog.dropGlobalTempView(outView)
    } finally spark.catalog.dropGlobalTempView(srcView)
  }

  /** Unpersist every persistent RDD not registered as shared. Call only
    * between queries (see class doc for why mid-query is unsafe). */
  def sweepTransient(spark: SparkSession): Unit = synchronized {
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!shared.contains(id)) rdd.unpersist(blocking = false)
    }
  }

  /** Unpersist the shared pins too and forget them. Only after the memo
    * entries that reference them are dropped: [[SessionMemo.reset]] does
    * both, in that order. */
  def releaseShared(spark: SparkSession): Unit = synchronized {
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (shared.contains(id)) rdd.unpersist(blocking = false)
    }
    shared.clear()
  }

  private[graft] def sharedCount: Int = synchronized(shared.size)
}
