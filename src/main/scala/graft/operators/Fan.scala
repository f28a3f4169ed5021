package graft.operators

import org.apache.spark.sql.DataFrame

/** Conditional fan-out for BYTE-LIGHT, CPU-DENSE stages (r21, guide
  * §2.5 "input skew: one huge unsplittable file … repartition
  * immediately after the read").
  *
  * Spark provisions parallelism by BYTES (`maxPartitionBytes` splits,
  * AQE coalesce targets) — the right heuristic for I/O-bound work, but
  * text/token kernels (per-token md5 shingling, PII regex chains,
  * payload block hashing) cost CPU per ROW at tiny bytes per row, so a
  * small input collapses them onto one or two cores: profiled at
  * sf0.1, the minhash map side ran 0.7 s of CPU in 2 tasks on a
  * 32-core box, st11's span kernel 1.6 s in ONE task. Round-robin
  * fanning such a frame out before the kernel spreads exactly that
  * compute; the exchange itself carries only the frame's few hundred
  * KB.
  *
  * Scale discipline: this is the IDENTITY whenever the input already
  * carries >= `target` partitions — at 100 TB every scan arrives in
  * hundreds of splits and no operator here ever adds an exchange (the
  * plan is unchanged; ExplainAuditSpec shapes at scale stay intact).
  * The fan-out only fires for inputs so small that Spark's byte
  * heuristics under-provision them, where an extra few-hundred-KB
  * round-robin exchange is free.
  *
  * Width (r22, VERDICT r21 #3/#6): `min(defaultParallelism,
  * max(floor, plannedBytes / bytesPerTask))` — the floor bounds
  * PER-TASK FIXED COST on tiny inputs (profiled min-of-3 warm runs at
  * sf0.1 read 1891 ms (8) / 1970 ms (16) / 2449 ms (32) for
  * dedup_clusters: past ~8 tasks the fixed per-task setup outweighs
  * the spread compute at 600 KB of input), while the bytes term lets a
  * genuinely larger under-split input (a one-file multi-GB gzip, a
  * bigger SF) use every core instead of r21's constant 8. Catalyst's
  * plan-time size estimate is only trusted when it is a real number:
  * frames behind a [[Stage]] boundary (LogicalRDD) and post-join frames
  * report the default/product placeholder, which would read as
  * "infinite input" — those fall back to the floor, which is exactly
  * the r21 behavior.
  */
object Fan {
  /** The minimum fan width (see "Width" above). */
  val Floor = 8

  /** Target bytes of planned input per fanned task. 128 KB of PARQUET
    * (or in-plan estimated) bytes expands to ~0.5-1 MB of in-memory
    * strings and arrays for the text tables here, and the fanned
    * kernels cost ~1-3 s CPU per planned MB — so a slice is >= ~100 ms
    * of work, well above Spark's per-task fixed cost. sf0.1's 594 KB
    * documents table yields 4 < floor → the measured width-8 local
    * behavior is unchanged; a 1 GB input yields 8192 → every core.
    */
  val DefaultBytesPerTask = 128L * 1024

  /** The width rule, exposed for tests: floor at `floor`, scale with
    * trusted planned bytes, never exceed the core count. `bytes < 0`
    * or an untrusted (placeholder-sized) estimate contributes nothing.
    */
  def width(bytes: Long, parallelism: Int, floor: Int,
      perTask: Long = DefaultBytesPerTask): Int = {
    val scaled =
      if (bytes <= 0 || bytes >= UntrustedBytes) 0L
      else bytes / perTask
    math.min(parallelism.toLong, math.max(floor.toLong, scaled)).toInt
  }

  /** Size estimates at or above this are Catalyst placeholders, not
    * measurements: `spark.sql.defaultSizeInBytes` (= Long.MaxValue
    * unless set) stands in for unknown relations (LogicalRDD behind a
    * [[Stage]]), and join estimates multiply child sizes. 1 TB is
    * far above any real input this engine fans (a >= 1 TB scan arrives
    * in thousands of splits and every Fan entry point is already the
    * identity there) and far below the placeholder products.
    */
  val UntrustedBytes = 1L << 40

  private def target(sized: DataFrame): Int = {
    // sizeInBytes is a BigInt (join estimates multiply into values past
    // Long range, whose toLong would WRAP) — clamp before narrowing
    val bytes =
      try {
        val bi = sized.queryExecution.optimizedPlan.stats.sizeInBytes
        if (bi >= BigInt(UntrustedBytes)) UntrustedBytes else bi.toLong
      } catch { case _: Throwable => -1L }
    width(bytes, sized.sparkSession.sparkContext.defaultParallelism, Floor)
  }

  /** Fan `df` out to the input-scaled width iff it currently has fewer
    * partitions — identity on streaming frames (no .rdd) and on any
    * input already at or above the target.
    */
  def out(df: DataFrame): DataFrame = {
    if (df.isStreaming) df
    else {
      val t = target(df)
      if (t <= 1 || df.rdd.getNumPartitions >= t) df
      else df.repartition(t)
    }
  }

  /** [[out]] for POST-SHUFFLE frames, gated on a scan-side `gauge`:
    * `df.rdd` on an unexecuted aggregate reports the static
    * `spark.sql.shuffle.partitions` (AQE's runtime coalesce isn't
    * known at plan time), so the under-parallel condition must be read
    * off the frame whose partitioning IS known at plan time — the scan
    * feeding the chain. When the gauge scan is under-parallel (the
    * byte-light local case) AQE will also have coalesced the shuffle
    * to ~1 partition, so the post-shuffle kernel needs the same
    * spread; when the gauge carries >= target splits (any real corpus)
    * this is the identity. The width scales with the GAUGE's planned
    * bytes — the post-shuffle frame's own estimate is a placeholder.
    */
  def outLike(df: DataFrame, gauge: DataFrame): DataFrame = {
    if (df.isStreaming || gauge.isStreaming) df
    else {
      val t = target(gauge)
      if (t <= 1 || gauge.rdd.getNumPartitions >= t) df
      else df.repartition(t)
    }
  }

  /** [[outLike]] for frames about to enter a KEY-partitioned operator
    * (a window or self-join): repartition BY the operator's own keys at
    * an explicit width, which (a) satisfies the downstream distribution
    * requirement, so EnsureRequirements adds no further exchange, and
    * (b) pins the partition count — AQE's coalescing skips
    * user-numbered repartitions, so a byte-light shuffle feeding a
    * CPU-dense stage (per-candidate intersects behind a posting window:
    * ~16 bytes/row in, ~1 ms/row of work out) is not folded back onto
    * 1-2 cores. Round-robin ([[out]]) cannot be used here — it would
    * break the key partitioning and force a second exchange. Identity
    * at scale and on streams, like every Fan entry point.
    */
  def keyed(df: DataFrame, gauge: DataFrame,
      keys: Seq[org.apache.spark.sql.Column]): DataFrame = {
    if (df.isStreaming || gauge.isStreaming) df
    else {
      val t = target(gauge)
      if (t <= 1 || gauge.rdd.getNumPartitions >= t) df
      else df.repartition(t, keys: _*)
    }
  }
}
