package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Every knob here is what we'd set cluster-side too: AQE (runtime
  * re-planning + skew-join handling), UTC session timezone (oracle
  * parity), and a broadcast threshold generous enough that every
  * dimension table in the star schema broadcasts.
  *
  * Shuffle width is set in two places. `shufflePartitions` sets only
  * `spark.sql.shuffle.partitions`, which streaming state stores (the
  * state partition count is fixed at a query's first checkpoint) and
  * non-AQE exchanges use; `StreamingSpec` pins 4 state partitions on
  * the test session. Batch shuffles run under AQE and start at
  * `initialPartitionNum`, 32 unless `SPARK_GRAFT_INITIAL_PARTITIONS`
  * is set, before coalescing, whatever `shufflePartitions` says.
  *
  * `file:` is the engine's own ([[graft.sources.ForkFreeLocalFileSystem]]
  * for `FileSystem`, [[graft.sources.ForkFreeLocalFs]] for `FileContext`).
  * Without Hadoop's native library the stock local filesystem forks
  * `chmod` on every create and `mkdirs` and `readlink` on every
  * `FileContext` rename: about a thousand child processes in an
  * 8-second streaming run, from the offset, commit and state-store
  * files and every `AdsStore` or `PARQUET` memo commit. The override
  * sets permissions through `java.nio` and skips `readlink` for paths
  * that are not symlinks. The rest stays Hadoop's: `.crc` checksums,
  * rename semantics (`Rename.NONE` still refuses an existing
  * destination), symlinks and the sticky bit. Hadoop caches one
  * `FileSystem` per scheme and user for the whole JVM, whatever the
  * conf, so a `file:` instance created before this session's conf
  * (outside `GraftSession`) stays the stock class; `FileContext` is
  * resolved afresh per call.
  *
  * Generated code compiles once per JVM. `CodeGenerator` caches a
  * compiled class by (thread context loader, source), and in local mode
  * the driver compiles every whole-stage class before its tasks do.
  * Session artifact isolation is off, because nothing in the engine
  * adds session artifacts (no `addArtifact` or `addJar`) and with it on
  * each session's tasks run under a per-session loader that the driver
  * cannot reach. [[graft.CodegenLoader]] then puts the creating thread
  * under the executor's default task loader, so tasks find the driver's
  * cache entry: one perfbench `dashboard_refresh` pass went from 499
  * compiles of 269 classes to 293 (SCALE.md, "Cold path: codegen").
  * Spark's cache size (`spark.sql.codegen.cache.maxEntries`, 100)
  * stays: with the loaders aligned few repeat compiles are left.
  */
object GraftSession {
  /** Local task threads: `SPARK_GRAFT_CPUS`, else the host's cores. The
    * one place the core count is read; every main builds with it. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  def builder(master: String = s"local[$cpus]",
              shufflePartitions: Int = cpus): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.functions.GraftSqlExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Permissive (Hive/Flink-style) semantics: corrupt casts -> null
      // (the P1 quarantine contract) and wrapping long arithmetic (hash
      // mixing in minhash/simhash signatures).
      .config("spark.sql.ansi.enabled", "false")
      // Older driver-generated events.parquet carried TIMESTAMP(NANOS),
      // which Spark 4 rejects; reading it as a long lets Tables.events
      // convert it. Harmless for the current TIMESTAMP(MICROS) data —
      // kept so either vintage of testdata loads. Set here, not as a
      // read side effect in Tables.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE shuffle sizing has TWO measured regimes and these knobs
      // pick between them (r17 decision, both sides measured):
      //
      // DEFAULT (32 / parallelismFirst=true / 64 MB advisory) is the
      // small-data profile — Spark's own upstream defaults minus the
      // partition count. The scale-safe wide config below costs
      // 2.53x on the full sf0.1 bench (430.2 s vs 170.4 s, r17 A/B
      // artifact gate/aqe_ab_r17_*.json): at test SFs a 1024-wide
      // start taxes every one of the ~1500 shuffles with map-side
      // overhead that AQE's coalescing cannot refund.
      //
      // DECADE/CLUSTER SCALE must OVERRIDE via these env knobs to
      // 1024 / false / 32 MB (tools/run_leg_perq.sh defaults them for
      // every decade leg): a fixed 32-way start is the measured
      // fourth-decade killer (sf100eq pair-mining ground multi-GB
      // sort/agg tasks into GC collapse -> heartbeat death, r15
      // SCALE.md "the one failure"), and the wide start is only safe
      // with parallelismFirst OFF (its 1 MB "parallelism" target
      // turns every loop-round shuffle into a ~1024-task storm —
      // measured: the sf100eq min-label leg dies of driver heartbeat
      // starvation with it on, passes with it off) and the advisory
      // halved to 32 MB so mid-size shuffles still spread across the
      // cores. On a real multi-executor cluster the equivalent is
      // initialPartitionNum sized to ~2-3x total cores and
      // size-first coalescing — set once per deployment profile, not
      // per query.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS", "32"))
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_PARALLELISM_FIRST", "true"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", (64L * 1024 * 1024).toString))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      // one codegen cache entry per class: see the scaladoc above
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.extraListeners", classOf[CodegenLoader].getName)
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.sources.ForkFreeLocalFs].getName)
    // Memo backend override (a StorageLevel name or PARQUET) for
    // single-JVM deployments whose memo surface × task concurrency
    // exceeds heap — see graft.operators.Memo.HeapGuardConf for the
    // measured failure mode PARQUET escapes.
    val b2 = sys.env.get("SPARK_GRAFT_MEMO_LEVEL")
      .fold(b)(b.config("spark.graft.memo.storageLevel", _))
    // Root dir for PARQUET-level memo materializations (the
    // Kafka-DWD-topics analog — see graft.operators.Memo.DirConf).
    val b3 = sys.env.get("SPARK_GRAFT_MEMO_DIR")
      .fold(b2)(b2.config("spark.graft.memo.parquetDir", _))
    // CDC-envelope fact-table salt (GmallDwdDb.EnvelopeSaltKConf):
    // spreads the dominant table past one task when its volume
    // exceeds a task's working set (amplified legs set 8).
    sys.env.get("SPARK_GRAFT_ENVELOPE_SALTK")
      .fold(b3)(b3.config("spark.graft.envelope.saltK", _))
  }

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
