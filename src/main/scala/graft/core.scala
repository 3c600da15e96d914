package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** One declared engine operator: a Spark implementation plus (when
  * SQL-expressible) the equivalent DuckDB oracle SQL. Column names and
  * row order MUST match between the two (driver hash-compares).
  */
final case class GQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object util {
  /** Load one of the driver-generated parquet tables under `dir`.
    * `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects; with spark.sql.legacy.parquet.nanosAsLong=true it
    * arrives as nano-precision LongType and is converted back to a
    * (micro-precision) timestamp here.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df0 = spark.read.parquet(s"$dir/$name.parquet")
    // driver testdata regenerated as timestamp[us] without the UTC flag:
    // sessions read it as TimestampType via inferTimestampNTZ=false, but a
    // session missing that conf gets NTZ — normalize to session-zone (UTC)
    // TimestampType so watermarks/unix_micros/as-of keep working
    val df = df0.schema.fields.foldLeft(df0) { (acc, f) =>
      if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
        acc.withColumn(f.name, col(f.name).cast("timestamp"))
      else acc
    }
    if (df.schema.fields.exists(f => f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType))
      df.withColumn("ts", timestamp_micros(expr("ts div 1000"))) // integer div: ns are > 2^53, float div would round
    else df
  }

  /** Write `df` as parquet to `path` and read it back with `df`'s
    * schema: no footer-reading job, partition columns keep their types,
    * and a zero-row write (no part file when partitioned) reads back
    * empty instead of failing with UNABLE_TO_INFER_SCHEMA. */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      mode: String = "errorifexists"): DataFrame = {
    df.write.mode(mode).partitionBy(partitionBy: _*).parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** Order-independent, engine-exact sum of a double column:
    * per-row cast to decimal(22,8) (exact for the testdata's 2-decimal
    * money columns and any product of up to four of them — scale 8
    * avoids round-half midpoints where Spark HALF_UP and DuckDB
    * HALF_EVEN disagree), exact decimal accumulation (no float
    * reassociation across partitions), final cast back to double
    * ROUNDED to 4 decimals: the decimal sum is identical in both
    * engines, but their decimal→double conversions can differ in the
    * last ulp once sums exceed ~2^33 (seen at sf0.1: 1 ulp ≈ 2e-6 on
    * 1e10-scale sums) — the 1e-4 grid is 100× coarser than that
    * divergence and loses nothing on 2-decimal money data.
    * DuckDB twin: round(cast(sum(cast(x as decimal(22,8))) as double), 4).
    */
  def dsum(c: Column): Column =
    round(sum(c.cast(DecimalType(22, 8))).cast(DoubleType), 4)

  /** Deterministic average built from the exact decimal sum (the
    * division inputs are bit-identical in both engines, so the
    * quotient is too). */
  def davg(c: Column): Column = (dsum(c) / count(lit(1))).cast(DoubleType)

  /** SQL fragments mirroring dsum/davg for the DuckDB oracle. */
  def sqlDsum(x: String): String = s"round(cast(sum(cast(($x) as decimal(22,8))) as double), 4)"
  def sqlDavg(x: String): String = s"(${sqlDsum(x)} / count(*))"

  /** Publish a Spark-computed table as an ORACLE SIDECAR: engine-
    * specific values (hash functions, libm floats) dumped as parquet
    * that the DuckDB oracle reads back via read_parquet, so every
    * RELATIONAL semantic around them (selection, join, ranking,
    * projection, ordering) stays hash-checked — the src_time_travel
    * manifest discipline extended to value columns. A STABLE path,
    * not a scratch dir: the driver's DuckDB pass runs after the
    * Verify JVM exits. Overwritten per run, coalesced to one file
    * (sidecars are oracle-sized, not data-sized). */
  /** Verification-only artifact: consumed solely by the DuckDB oracle
    * replay (read_parquet in the entry's oracle SQL), never by the
    * operator's own plan. Bench sets `graft.bench.skipSidecars`
    * because timing the dump would measure the correctness harness,
    * not the operator — measured at sf0.1: +5.5 s on text_fingerprint
    * (1M-row gram table ×3 reps), +2.6 s on sim_ann_lsh. Verify never
    * sets it, so every driver correctness run still writes and
    * replays the sidecars. */
  def oracleSidecar(name: String, df: DataFrame): Unit =
    if (!sys.props.contains("graft.bench.skipSidecars"))
      df.coalesce(1).write.mode("overwrite")
        .parquet(s"${sys.props("java.io.tmpdir")}/graft_oracle_scratch/$name")

  /** The read_parquet glob an oracle embeds for sidecar `name`. */
  def oracleSidecarGlob(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_oracle_scratch/$name/*.parquet"

  /** Execute `df` NOW and return its ANSWER-SIZED result as a local
    * relation — for scoped-conf entries whose plan must run while the
    * confs hold (lazy execution would see the restored confs). Unlike
    * `localCheckpoint(true)`, nothing stays pinned in block-manager
    * memory after the rows are taken (VERDICT r9: a checkpointed RDD
    * referenced by the returned frame lives until JVM exit, and a
    * 3-rep bench accumulates one per rep). The collect is bounded by
    * contract: callers pass final aggregates only. */
  def materializeLocal(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collectAsList(), df.schema)

  /** Run `body` with `confs` set on the session, then restore each key
    * to its prior value, or unset it if it had none, also when `body`
    * throws. Confs read at planning time only hold for plans that
    * execute inside the scope (see [[materializeLocal]]). */
  def withConfs[A](spark: SparkSession, confs: Seq[(String, String)])(body: => A): A = {
    val prev = confs.map { case (c, _) => c -> spark.conf.getOption(c) }
    confs.foreach { case (c, v) => spark.conf.set(c, v) }
    try body finally prev.foreach {
      case (c, Some(v)) => spark.conf.set(c, v)
      case (c, None) => spark.conf.unset(c)
    }
  }

  /** Recursively delete a directory tree (no-op on missing paths). */
  def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete()
    ()
  }

  private lazy val cleanupHook: java.util.concurrent.ConcurrentLinkedQueue[String] = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      q.forEach(p => deleteRecursively(new java.io.File(p)))))
    q
  }

  /** Register an EXISTING path for recursive deletion at JVM exit —
    * for artifacts whose location the caller does not choose (e.g. a
    * saveAsTable warehouse dir: the in-memory catalog forgets the
    * table across JVMs, but its directory would persist). */
  def registerShutdownDelete(path: String): Unit = {
    cleanupHook.add(path)
    ()
  }

  /** Cheap content fingerprint of table `name` under `dir`: a hash
    * over (file name, length, mtime) of every part file — no data
    * scan. A regenerated table (new mtimes/sizes) gets a new
    * fingerprint and therefore a fresh artifact build; the production
    * analog is keying derived artifacts by table snapshot/version id. */
  def tableFingerprint(dir: String, name: String): String = {
    require(new java.io.File(s"$dir/$name.parquet").exists,
      s"tableFingerprint: no such table $dir/$name.parquet — a missing path " +
      "must fail fast here, not alias every typo onto one constant cache key")
    def walk(f: java.io.File): Seq[java.io.File] = {
      val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      if (kids.isEmpty) Seq(f) else kids.sortBy(_.getName).flatMap(walk)
    }
    val sig = walk(new java.io.File(s"$dir/$name.parquet"))
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("|")
    java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(sig).toLong & 0xFFFFFFFFL)
  }

  /** (artifact, rows, checksum) of one relation — an order-independent
    * XOR-of-xxhash64 fingerprint over every column of every row; the
    * determinism specs pin two independent artifact builds to
    * identical summaries. */
  def dfSummary(df: DataFrame, name: String): DataFrame = {
    val cols = df.columns.sorted.mkString(", ")
    df.agg(count(lit(1)).as("rows"),
        coalesce(expr(s"bit_xor(xxhash64($cols))"), lit(0L)).as("checksum"))
      .select(lit(name).as("artifact"), col("rows"), col("checksum"))
  }

  private val artifactRoots = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Keys whose build closure actually RAN in this JVM, in order —
    * observability for the no-recompute gate: an amortized entry's
    * second same-session invocation must add nothing here (a
    * nondeterministic cache key — a UUID, a timestamp, an unstable
    * plan string — would rebuild per call and falsify every
    * "measures the read path" claim). Appended only on a real build,
    * not on a manifest hit. */
  private[graft] val artifactBuildLog =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** (thread id, key) of EVERY [[artifactRoot]] call, hit or build:
    * the spec holding `Bench.amortizedEntries` to the cache readers. */
  private[graft] val artifactTouchLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()

  /** MD5 (16 hex chars) over the compiled bytecode of every class in
    * the graft package, computed once per JVM: the version of the code
    * that builds artifacts. Every class counts, nested and anonymous
    * ones and helpers like [[t]] included, because an artifact depends
    * on whatever code its build closure reaches; an edit anywhere
    * over-invalidates, which is the safe direction. */
  private[graft] lazy val codeVersion: String = {
    val src = getClass.getProtectionDomain.getCodeSource
    require(src != null && src.getLocation != null,
      "codeVersion: no code source for the graft classes — refusing " +
      "a constant key (it would serve stale artifacts forever)")
    codeVersionOf(new java.io.File(src.getLocation.toURI))
  }

  /** [[codeVersion]] of the `graft/` classes under `root`, a class
    * directory or a jar. Entries are hashed with their root-relative
    * names, sorted, so the digest is independent of where the tree
    * lives and of filesystem or jar iteration order. */
  private[graft] def codeVersionOf(root: java.io.File): String = {
    import scala.jdk.CollectionConverters._
    val classes: Seq[(String, Array[Byte])] =
      if (root.isDirectory) {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(root, "graft")).filter(_.getName.endsWith(".class"))
          .map(f => root.toPath.relativize(f.toPath).toString.replace('\\', '/') ->
            java.nio.file.Files.readAllBytes(f.toPath))
      } else {
        val jar = new java.util.jar.JarFile(root)
        try jar.entries().asScala.toSeq
          .filter(e => e.getName.startsWith("graft/") && e.getName.endsWith(".class"))
          .map(e => e.getName -> jar.getInputStream(e).readAllBytes())
        finally jar.close()
      }
    require(classes.nonEmpty, s"codeVersion: zero graft .class resources found " +
      s"under $root — refusing a constant key")
    val md = java.security.MessageDigest.getInstance("MD5")
    classes.sortBy(_._1).foreach { case (name, bytes) =>
      md.update(name.getBytes("UTF-8")); md.update(bytes)
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  private val artifactCachePrefix = "graft_artifact_cache_"

  /** Base directory of the cross-JVM artifact cache for the code in
    * this JVM: `java.io.tmpdir/graft_artifact_cache_<codeVersion>`.
    * Code built from other sources uses another base, so no JVM serves
    * an artifact that other code built. */
  private[graft] def artifactCacheBase: java.io.File =
    new java.io.File(sys.props("java.io.tmpdir"), artifactCachePrefix + codeVersion)

  /** Per-key build monitors: ConcurrentHashMap.computeIfAbsent is safe
    * HERE (the mapping function allocates a plain Object and cannot
    * recurse into the map), and the monitor restores the same-JVM
    * single-build guarantee that the r16 reentrancy fix traded away —
    * two threads racing one unbuilt key used to both run the build and
    * both append to [[artifactBuildLog]], which could spuriously trip
    * the no-recompute gate. JVM monitors are PER-THREAD REENTRANT, so
    * a build closure nesting artifactRoot for another key takes that
    * key's own monitor; build nesting is strictly hierarchical (audit
    * certificate → entry index → nothing), so no lock cycle exists. */
  private val artifactLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Test-only: forget a synthetic key so its in-JVM entry doesn't
    * outlive the spec that deleted its directory. */
  private[graft] def artifactEvict(key: String): Unit = {
    artifactRoots.remove(key)
    artifactLocks.remove(key)
    ()
  }

  /** CROSS-JVM persistent artifact cache (trained indexes, candidate
    * graphs, materialized fixtures): returns the stable directory for
    * `key`, running `build(stagedPath)` exactly once per key across
    * JVM lifetimes. A build stages into a `.tmp-<uuid>` sibling,
    * writes a `_MANIFEST` recording the key, then atomically renames
    * the directory into place — the
    * [[graft.sources.GraftTextSink]] stage-then-publish protocol
    * applied to a directory, so readers never observe a half-built
    * root and a second JVM (Verify, Bench, every spec suite) READS
    * the artifacts instead of rebuilding. A lost rename race means
    * another JVM published the identical (deterministic) build first
    * — use theirs, drop ours.
    *
    * An artifact is a function of its inputs and of the code that
    * built it. The code is in the base ([[artifactCacheBase]]), so
    * `key` carries the inputs only: the artifact's name, the
    * [[tableFingerprint]] of every table the build reads and any value
    * a caller passes at run time. A constant in the graft sources,
    * such as a build parameter or an artifact-set revision, does not
    * go in the key: editing it changes the code version. Test classes
    * are not hashed, so a key built by test code carries its own
    * revision tag. */
  def artifactRoot(key: String)(build: String => Unit): String = {
    // REENTRANT by construction: build closures legitimately call
    // artifactRoot for nested artifacts (the resource-audit
    // certificate measures entries that read their own cached
    // indexes), and ConcurrentHashMap.computeIfAbsent on THIS map
    // throws "Recursive update" whenever a nested compute lands in
    // the same bin — a hash-placement lottery. So: plain get, then a
    // per-key monitor (reentrant, allocated via computeIfAbsent on a
    // map whose mapping function cannot recurse — see
    // [[artifactLocks]]) for same-JVM single-build, then the
    // stage-and-atomic-rename disk protocol (which already tolerates
    // concurrent CROSS-JVM builders — a lost rename means an
    // identical deterministic build published first).
    artifactTouchLog.add((Thread.currentThread.getId, key))
    val cached = artifactRoots.get(key)
    if (cached != null) cached
    else artifactLocks.computeIfAbsent(key, _ => new Object).synchronized {
      val again = artifactRoots.get(key)
      if (again != null) again
      else {
        val base = artifactCacheBase
        base.mkdirs()
        if (sweptOnce.compareAndSet(false, true)) {
          base.setLastModified(System.currentTimeMillis)
          sweepStale(base.getParentFile, base)
        }
        val stable = new java.io.File(base, key)
        val manifest = new java.io.File(stable, "_MANIFEST")
        if (!manifest.isFile) {
          artifactBuildLog.add(key)
          val staged = new java.io.File(base, s".tmp-${java.util.UUID.randomUUID}")
          registerShutdownDelete(staged.getPath) // no-op once renamed away
          build(staged.getPath)
          java.nio.file.Files.writeString(staged.toPath.resolve("_MANIFEST"), s"$key\n")
          if (!staged.renameTo(stable) && !manifest.isFile)
            sys.error(s"artifact publish failed: $staged -> $stable")
        }
        artifactRoots.putIfAbsent(key, stable.getPath)
        stable.getPath
      }
    }
  }

  /** Once per JVM, on its first cache touch, sweep what no live run
    * can still be using:
    *  - `.tmp-<uuid>` staging dirs in `current` older than an hour.
    *    They leak when a building JVM is killed mid-build; a live
    *    build's staging dir is minutes old at most.
    *  - Sibling `graft_artifact_cache_*` bases in `parent`, other than
    *    `current`, last modified more than a day ago: every code edit
    *    starts a new base. Each JVM touches its own base's mtime first,
    *    and a day is a wide margin over any live run (a full test run
    *    takes under 20 min), so a running JVM of other code never loses
    *    its base. */
  private val sweptOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
  private[graft] def sweepStale(parent: java.io.File, current: java.io.File): Unit = {
    val now = System.currentTimeMillis
    def list(d: java.io.File) = Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
    list(current)
      .filter(f => f.getName.startsWith(".tmp-") && f.lastModified < now - 60L * 60 * 1000)
      .foreach(deleteRecursively)
    list(parent)
      .filter(f => f.isDirectory && f.getName.startsWith(artifactCachePrefix) &&
        f.getName != current.getName && f.lastModified < now - 24L * 60 * 60 * 1000)
      .foreach(deleteRecursively)
  }

  /** A unique temp-dir path under java.io.tmpdir, registered for
    * recursive deletion at JVM exit — entries that write scratch
    * layouts (round-trips, skew facts, bucketed tables) must not
    * accumulate artifacts across bench/spec runs. Deletion is deferred
    * to shutdown because most entries return a LAZY DataFrame still
    * reading from the path. */
  def scratchDir(prefix: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_${prefix}_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    cleanupHook.add(p)
    p
  }
}
