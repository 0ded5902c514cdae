package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the resource model of the reference warehouse
  * (`/root/reference/warehouse.yml.example:35-40`: threads + memory limit +
  * temp spill) re-expressed as Spark conf. Tuned for local[N] testing but the
  * same conf block is what we'd ship to a 1000-executor cluster: AQE on,
  * shuffle partitions sized to cores, UTC session time.
  */
object GraftSession {

  /** Conf applied to every session (driver-made or our own). */
  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      // 169 distinct query shapes compile ~1900 whole-stage-codegen units
      // per suite pass (measured r17, OPTIMIZATION_r17.md) — above the 1000
      // entries r4 set, so min-of-k passes re-running in sorted order hit
      // worst-case LRU thrash: ~every unit recompiles every pass at
      // ~11-45 ms each (~20 s/pass of pure Janino). 8000 holds the whole
      // working set; cost is driver/executor metaspace for generated
      // classes (~130 MB code-heap measured at 1900 units), independent
      // of data scale, so the same value ships to the cluster.
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      // maxShuffledHashJoinLocalMapThreshold stays at its default (0, off):
      // the r17 snapshot shipped 64m unmeasured; the r18 A/B (full suite,
      // both orders within one host window) read 53.8 s with 64m vs 52.4 s
      // without, per-query deltas bidirectional noise — no benefit to buy
      // the non-spilling-map OOM risk an AQE-forced SHJ carries at scale.
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.ui.enabled", "false")
      // every task's data is local: waiting for a "better" slot only idles
      // a free core
      .config("spark.locality.wait", "0")

  /** Cores for a main's session: `SPARK_GRAFT_CPUS`, else `default`. */
  def envCores(default: Int = Runtime.getRuntime.availableProcessors()): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** Local session for tests / CLI mains. */
  def local(cores: Int = envCores()): SparkSession = {
    val s = tune(
      SparkSession.builder().master(s"local[$cores]").appName("graft"),
      math.max(cores, 4)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
