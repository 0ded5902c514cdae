package graft.queries

import org.apache.spark.sql.{Dataset, SparkSession}

/** The query layer's one cache of shared artifacts: the trained quantizers,
  * codebooks and PCA bases, the checkpointed shingle, postings, design-matrix
  * and graph stages, and the served store results that several queries of a
  * pass reuse. A deployment builds each of these once per ingest and serves
  * many queries from it; this cache gives the suite the same shape.
  *
  *  - Key: (session key, table dir, [[Kind]], params). The session key is
  *    the application id plus the session's identity hash, never the
  *    `SparkSession` itself, so an entry does not keep a discarded session
  *    reachable, and two sessions on one dir share nothing. `params` holds
  *    whatever else selects the artifact (k, iters, a vec_id slice, ...).
  *  - First consumer pays: the first caller of a key runs the build inside
  *    its own timed region; every later caller reads the result. The map
  *    holds a lazy holder and the build runs outside `computeIfAbsent`, so
  *    a build may read other artifacts from this cache (the end-state graph
  *    reads the store graph, BM25 reads the postings, q165 reads the
  *    centroids). Concurrent callers of one key still run one build, and a
  *    build that throws runs again on the next call.
  *  - Overflow: a new key that finds [[MaxEntries]] entries first drops
  *    every reference, and unpersists nothing. A concurrent caller may hold
  *    a checkpoint whose lineage is truncated; unpersisting under it would
  *    make its next action unrecoverable. Unreferenced blocks go to the
  *    ContextCleaner.
  *    The bound is sized from real traffic so that none of it overflows:
  *    a full Verify pass on sf0.01 (4 threads) creates 36 entries, each
  *    PlanBaselineSpec test 36, and one perfbench `query_suite` run
  *    (warm-up dir plus one pass dir) 12. 128 holds every artifact of
  *    three table dirs. A kind read only under its latest key (the
  *    warehouse's window spine accessions) drops its older keys with
  *    [[retainOnly]], so it holds one entry per dir.
  *  - [[clearAll]] (bench passes, tests, probes: callers with no concurrent
  *    holders) unpersists the checkpoint blocks behind every built
  *    `DataFrame` value, then empties the map, so a pass leaks nothing into
  *    the next.
  */
object ArtifactCache {

  /** One kind of artifact; `V` fixes the type of its values. */
  final class Kind[V](name: String) {
    override def toString: String = name
  }

  val MaxEntries = 128

  private final case class Key(session: String, dir: String, kind: Kind[_],
      params: Seq[Any])

  private final class Holder(private var build: () => Any) {
    @volatile var built = false
    // the closure is dropped once built: it may capture the session
    lazy val value: Any = { val v = build(); build = null; built = true; v }
  }

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[Key, Holder]()

  private def sessionKey(s: SparkSession): String =
    s"${s.sparkContext.applicationId}-${System.identityHashCode(s)}"

  /** The artifact of `kind` for (s, dir, params), built on first use. */
  def apply[V](s: SparkSession, dir: String, kind: Kind[V], params: Any*)
      (build: => V): V = {
    val k = Key(sessionKey(s), dir, kind, params)
    var h = entries.get(k)
    if (h == null) {
      if (entries.size >= MaxEntries) entries.clear()
      h = entries.computeIfAbsent(k, _ => new Holder(() => build))
    }
    h.value.asInstanceOf[V]
  }

  /** Replace an entry with an already built value. */
  def put[V](s: SparkSession, dir: String, kind: Kind[V], params: Any*)
      (value: V): Unit = {
    val h = new Holder(() => value)
    h.value
    entries.put(Key(sessionKey(s), dir, kind, params), h)
  }

  def remove(s: SparkSession, dir: String, kind: Kind[_],
      params: Any*): Unit =
    entries.remove(Key(sessionKey(s), dir, kind, params))

  /** Drop every entry of `kind` for (s, dir) except the one for `params`. */
  def retainOnly(s: SparkSession, dir: String, kind: Kind[_],
      params: Any*): Unit = {
    val session = sessionKey(s)
    entries.keySet.removeIf(k => k.session == session && k.dir == dir &&
      k.kind == kind && k.params != params)
  }

  def size: Int = entries.size

  /** Unpersist the checkpoint blocks behind every built `DataFrame` value,
    * then drop every entry. */
  def clearAll(): Unit = {
    entries.values().forEach { h =>
      if (h.built) h.value match {
        case ds: Dataset[_] => unpersistCheckpoint(ds)
        case _ =>
      }
    }
    entries.clear()
  }

  // a localCheckpoint'ed frame holds its blocks through the checkpointed
  // RDD inside its LogicalRDD; other plans have none to free
  private def unpersistCheckpoint(ds: Dataset[_]): Unit =
    try {
      ds.queryExecution.analyzed.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = false)
        case _ =>
      }
    } catch { case scala.util.control.NonFatal(_) => () }
}
