package graft.operators

/** Shared arithmetic for the size-gated driver tiers (NnDescent, RpForest,
  * ConnectedComponents, BpeTrainer): every tier probes `driverMax + 1` rows
  * to decide whether the local path is safe. `take`/`limit` need an Int, and
  * a caller passing `Long.MaxValue` to force the tier OFF must not overflow
  * into a negative count. */
object DriverTier {
  /** `driverMax + 1` clamped into Int range — the probe count that
    * distinguishes "fits in the driver tier" from "exceeds it". */
  def probeLimit(driverMax: Long): Int =
    (math.min(driverMax, Int.MaxValue - 1L) + 1L).toInt

  /** Parquet footers read on the driver, one after another, when a call
    * names at most this many files; more are read in one Spark job
    * ([[graft.sources.ParquetFooterMeta]]). A footer is a few KB: a handful
    * of them costs less than dispatching a job. */
  val FooterFilesMax = 16

  /** Window spine accessions collected to the driver to prune the SRA
    * detail files ([[graft.models.OmicidxModels.lakeSources]]); a window
    * with more reads every detail file. */
  val SpineAccessionsMax = 1 << 20
}
