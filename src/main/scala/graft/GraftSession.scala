package graft

import org.apache.spark.sql.SparkSession

/** The one session builder for graft-owned sessions (Verify, the test
  * suite, the dev tools): semantic confs, local-filesystem confs, the
  * scratch `spark.local.dir`, and shuffle partitions plus AQE sized by
  * input volume. Callers may add confs to the returned builder before
  * `getOrCreate()`.
  */
object GraftSession {

  /** Shuffle partitions and AQE from the input volume.
    *
    * Partitions: ~64 MB of input per shuffle partition (the Spark tuning
    * guide's "few hundred MB per partition" band), floored at cores/4 so
    * concurrent small stages still spread over the box, and at 1 so a
    * sub-64MB input on fewer than 4 cores stays a valid count. At sf0.1
    * (~18 MB of parquet) on 32 cores this resolves to 8: a fixed
    * partitions=cores setting makes every tiny post-shuffle stage pay 32
    * task launches to move kilobytes, and AQE's parallelism-first
    * coalescing keeps most of them (measured: a fixed 32 costs ~12%
    * suite-wide vs volume-sized partitions, and parallelismFirst=false
    * recovered none of it). At sf1 the same rule grows the count back
    * up, and at 100 TB it resolves to the hundreds of thousands a real
    * cluster runs with. Compute-bound per-row kernels are unaffected:
    * Tables.spread parallelizes those by defaultParallelism (=cores),
    * not by this conf.
    *
    * AQE: on from 1 GiB of input. AQE's levers — partition coalescing,
    * skew-join splits, runtime SMJ->BHJ — all act on shuffles of real
    * volume, and its price is structural: every Exchange becomes a
    * separately-materialized query stage (one extra job submission +
    * driver re-optimization round per stage, measured 40-70ms/wave —
    * q_hhi runs 8 jobs for a 25-row report). Below ~1 GiB of total input
    * every shuffle in the suite is KB-scale, so there is nothing for
    * AQE's levers to win back: interleaved same-JVM A/B over all 305
    * queries (both sides exposed to the same ambient load) measured AQE
    * off = -24.0s of 175.1s (-13.7%); a 14-query re-probe of the apparent
    * regressors at 5 pairs confirmed every one was weather, not effect
    * (worst true regression: q_tpch_q15 +0.06s). At sf1 (158 MB) the
    * heavy-20 A/B still nets -3.5s for off — but the components have
    * started to flip: q_hits' iterative join loop pays the largest AQE
    * tax (-3.8s off: one re-optimization round per stage per
    * iteration), while d_containment is the first query where AQE's
    * levers WIN at volume (+4.0s off: the posting-list join wants
    * runtime splits once hot shingles carry real bytes). The crossover
    * therefore sits above the measured fixtures; 1 GiB keeps AQE off
    * through the regime where the tax is proven and on where shuffles
    * carry real bytes (skew, mis-estimated joins — not re-derivable
    * statically).
    *
    * @return (shuffle partitions, AQE enabled)
    */
  def volumeRule(cores: Int, bytes: Long): (Int, Boolean) =
    (math.max(1, math.max(cores / 4, (bytes / (64L << 20)).toInt)), bytes >= (1L << 30))

  /** Total file bytes under `f`; 0 for a missing path. */
  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else f.length()

  /** A local session builder over every available core, sized for the
    * data under `dataDir`. Picks the scratch base ([[Scratch.dir]]) as a
    * side effect.
    */
  def builder(dataDir: String): SparkSession.Builder = {
    val cores = Runtime.getRuntime.availableProcessors
    val (parts, aqe) = volumeRule(cores, dirBytes(new java.io.File(dataDir)))
    Scratch.localFsConfs.foldLeft(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft"))((b, kv) => b.config(kv._1, kv._2))
      .config("spark.local.dir", s"${Scratch.dir()}/spark-local")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // ANSI off: null-on-bad-cast semantics, matching the reference's
      // runtime behavior and DuckDB TRY_CAST (SURVEY.md §7 risk register).
      .config("spark.sql.ansi.enabled", "false")
      // fixture events.ts is parquet TIMESTAMP(NANOS): read as ns-long
      // (graft.ext.Events.normalizeTs converts to micros downstream)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.ui.enabled", "false")
  }
}
