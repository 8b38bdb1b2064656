package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** The two write primitives every streaming fold's state/sink tables
  * share. Both replace what an earlier attempt of the same batch wrote
  * (a crash-retry REPLACES its own first attempt — the family's
  * exactly-once mechanism) and end with a `refreshByPath` on the target
  * directory.
  *
  *   - `overwritePartition(dir, col, value)` — the frame belongs to ONE
  *     partition (a batch id or state version): it is written, without
  *     the partition column, as the directory `dir/col=value`. This is
  *     the common case, and it needs no sort and no per-partition
  *     bookkeeping.
  *   - `overwritePartitions(dir, cols*)` — dynamic partition overwrite for
  *     frames that carry SEVERAL partition values (a copy-on-write scrub
  *     across batch partitions, postings spread over IVF cells): only the
  *     partitions the frame holds are replaced, at the price of a sort and
  *     a staging directory per write.
  *
  * A batch id must never become a plan literal (`withColumn(col,
  * lit(batchId))`): the literal is inlined into the generated Java, so
  * every batch would compile its write stages anew, and Spark's codegen
  * cache would evict the classes the rest of the cycle reuses. Passing it
  * as a path keeps the plan, and so its generated code, batch-invariant.
  *
  * The refresh is load-bearing, not hygiene: Spark's shared FileStatusCache
  * retains the directory listing from any EARLIER read in the same JVM, so
  * after a retry rewrites a partition, a later read would otherwise resolve
  * the first attempt's vanished files and fail mid-scan. Centralizing the
  * write guarantees no fold can reintroduce the hazard by forgetting the
  * refresh (it shipped three times before this helper existed).
  */
object StreamingWrites {

  implicit class GuardedWrites(private val df: DataFrame) extends AnyVal {
    /** Write `df` as the whole of partition `col=value` under `dir`,
      * replacing whatever that partition held, then invalidate the cached
      * file listing for `dir`. `df` does not carry `col`. The files are
      * written to a hidden staging directory and moved into place with
      * one directory rename, so readers never list a half-written
      * partition (the visibility dynamic overwrite gives).
      */
    def overwritePartition(dir: String, col: String, value: Long): Unit = {
      val target = new Path(s"$dir/$col=$value")
      val staging = new Path(s"$dir/.staging-$col-$value")
      df.write.mode("overwrite").parquet(staging.toString)
      val fs = target.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
      fs.delete(target, true)
      if (!fs.rename(staging, target))
        throw new java.io.IOException(s"could not move $staging to $target")
      df.sparkSession.catalog.refreshByPath(dir)
    }

    /** Write `df` under `dir` partitioned by `partCols`, overwriting only
      * the partitions this frame carries, then invalidate the cached file
      * listing for `dir`.
      */
    def overwritePartitions(dir: String, partCols: String*): Unit = {
      df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCols: _*)
        .parquet(dir)
      df.sparkSession.catalog.refreshByPath(dir)
    }
  }
}
