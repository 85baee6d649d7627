package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One operator of the engine: a registry key, a Spark implementation, and
  * (when ANSI-SQL-expressible) a DuckDB oracle twin.
  *
  * Capability surface per SURVEY.md §2 (the reference repo at
  * /root/reference contains only README.md:1, so the contract is the
  * canonical Canal→ClickHouse pipeline class + driver mandate).
  */
final case class QueryDef(
    key: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
)

/** A bounded per-(session, key) cache of `.persist()`ed DataFrames
  * shared by operators that consume one expensive derived feed many
  * times. Eviction rules (the edgeCache discipline): entries whose
  * owning SparkContext is stopped are dropped eagerly (their cached
  * blocks are gone with the context), and a hard entry cap bounds
  * session-churn growth — on overflow only the OLDEST excess entries
  * are unpersisted (persisted blocks are pinned by the session's
  * CacheManager, so dropping the reference alone would leak storage)
  * and rebuilt on next use. Callers fold the fixture fingerprint into
  * `key` so a testdata swap at the same path re-derives instead of
  * replaying stale state.
  */
final class DfCache(maxEntries: Int = 16) {
  private val m = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()
  // insertion-order queue backing LRU-by-age eviction: overflow evicts
  // ONLY the oldest excess entries, never the whole cache — a blanket
  // clear ripped frames handed to concurrent callers moments earlier and
  // made every caller rebuild its expensive persisted feed at once
  // (Cdc.parsed materializes a full parse per rebuild)
  private val order = new java.util.concurrent
    .ConcurrentLinkedQueue[(SparkSession, String)]()

  private def drop(k: (SparkSession, String)): Unit = {
    order.remove(k) // O(entries), bounded by maxEntries — fine
    Option(m.remove(k)).foreach { df =>
      // unpersist on remove: persisted blocks are pinned by the
      // session's CacheManager, so dropping the reference alone leaks
      try { df.unpersist(); () } catch { case _: Throwable => () }
    }
  }

  def get(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    // entries whose owning context is stopped are dead (their cached
    // blocks died with the context) — drop eagerly, no unpersist needed
    // but drop() tolerates it
    m.keySet.asScala.toList.filter(_._1.sparkContext.isStopped).foreach(drop)
    val k = (s, key)
    // HIT path first, no eviction: a full-at-cap cache of live entries
    // accessed cyclically must stay stable — evicting before the
    // presence check would turn every at-cap hit into a drop+rebuild
    // of the oldest frame (0% hit rate at a working set == maxEntries)
    val hit = m.get(k)
    if (hit != null) return hit
    // MISS: make room for the insert, oldest-first, until size <
    // maxEntries — so the effective cap IS maxEntries. The null-poll
    // guard breaks the loop if the queue drains first (an entry can be
    // mid-insert in m but not yet queued — the next call settles it);
    // no global lock, same rationale as before: `build` runs full
    // Spark jobs and must not serialize unrelated callers.
    var draining = true
    while (draining && m.size >= maxEntries) {
      val oldest = order.poll()
      if (oldest == null) draining = false else drop(oldest)
    }
    // build OUTSIDE the map (then putIfAbsent): computeIfAbsent holds
    // the bin lock for the mapping function's duration, so a
    // multi-second Spark build would serialize UNRELATED keys that
    // hash to the same bin — the exact invariant the no-global-lock
    // note above states. The cost is a rare duplicate build when two
    // callers race the same key; the loser unpersists its copy.
    // Queue AFTER a successful insert: a throwing `build` inserts
    // nothing, so queueing eagerly would leave a phantom key whose
    // later poll evicts the live re-built entry at the phantom's
    // (older) age — and repeated build failures would grow the queue
    // without bound.
    val built = build
    val prev = m.putIfAbsent(k, built)
    if (prev == null) { order.add(k); built }
    else {
      // lost the race: return the winner's frame. Whether to unpersist
      // OUR duplicate depends on plan identity — Spark's CacheManager
      // is keyed by LOGICAL PLAN (sameResult), not DataFrame instance:
      //  - same plan (the common deterministic-build case): the
      //    duplicate's .persist() was a no-op against the winner's
      //    entry, and unpersisting here would UNCACHE the winner,
      //    permanently defeating the cache for this key — don't.
      //  - different plan (localCheckpoint-backed builds produce a
      //    fresh LogicalRDD per call): our persist created its OWN
      //    entry whose fully-materialized blocks would otherwise
      //    linger until ContextCleaner GC — release it.
      if (!built.queryExecution.analyzed
          .sameResult(prev.queryExecution.analyzed))
        try { built.unpersist(); () } catch { case _: Throwable => () }
      prev
    }
  }

  /** Test visibility: the live key set. */
  private[graft] def keys: Set[(SparkSession, String)] = {
    import scala.jdk.CollectionConverters._
    m.keySet.asScala.toSet
  }
}

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md). */
object Tables {
  /** The session confs that change what parquet schema inference returns
    * for the same file: a fixture read under another value of any of them
    * must infer again.
    */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** absolute path → (file signature + inference confs, inferred schema).
    * One entry per path, replaced when its key changes, so the map stays
    * as small as the set of fixture paths read, and a drop re-encoded at
    * the same path (round 7: events.ts NANOS → MICROS) is inferred again.
    */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()

  /** A fixture read with a known schema. Parquet schema inference is a
    * Spark job (a footer read, ≈70 ms); it runs on the first read of a
    * path and again only when the path's files or the inference confs
    * change. A missing path falls through to the plain read, which fails
    * as it always has.
    */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val abs = new java.io.File(path).getAbsolutePath
    val sig = Scratch.pathSignature(abs)
    if (sig == "0") spark.read.parquet(path)
    else {
      val key = (sig +: inferenceConfs.map(spark.conf.getOption(_).getOrElse("")))
        .mkString("|")
      val known = schemas.get(abs) match {
        case (k, schema) if k == key => schema
        case _ =>
          val inferred = spark.read.parquet(path).schema
          schemas.put(abs, (key, inferred))
          inferred
      }
      spark.read.schema(known).parquet(path)
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  /** events.ts encoding differs between testdata drops, so detect from
    * the resolved schema and normalize to TIMESTAMP (µs wall-clock,
    * session tz pinned UTC):
    *  - TIMESTAMP(NANOS) drops (rounds ≤6) are unreadable by the
    *    vectorized reader; with the legacy nanosAsLong conf (still
    *    registered in Spark 4.1.2; simply not exercised by µs drops)
    *    they surface as a nanos LONG, floor-divided to µs with integer
    *    `div` (ns epoch values ≈1.7e18 exceed double's 2^53 exact
    *    range). Matches DuckDB's `CAST(ts AS TIMESTAMP)` truncation
    *    bit-for-bit.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) drops surface natively
    *    as TIMESTAMP_NTZ; the cast to TIMESTAMP preserves the wall-clock
    *    µs exactly under the UTC session.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}

/** Cross-engine determinism helpers.
  *
  * Double summation is order-dependent; Spark's partial/final parallel
  * aggregation would differ from DuckDB's sequential sum in the last ulp
  * and fail the driver's hash compare. Fix: sum EXACTLY in decimal
  * (order-independent), then cast the final value to double. A double can
  * never sit exactly on a decimal rounding tie (dyadic rationals are never
  * of the form (2n+1)/(2·10^k)), so double→decimal rounding is identical
  * across engines regardless of their tie-break rule.
  *
  * Residual risk (documented, not triggered by current fixtures): the
  * no-tie argument covers the exact binary value, but Spark's
  * double→decimal cast goes via the SHORTEST decimal string
  * (BigDecimal.valueOf) while DuckDB rounds the exact binary value. A
  * column whose shortest representation carries >6 fractional digits
  * sitting exactly on a 6dp midpoint (e.g. a literal `0.1234565`) could
  * round differently. Fixture columns are 2dp prices and full-precision
  * doubles (shortest repr ≈17 digits, never a 6dp midpoint), which are
  * safe; if a future generator emits 7-digit decimal literals, normalize
  * with round() at the edge first.
  *
  * CONFIRMED instance (text_lm_bigram, sf0.01 row 484): round(sum/n, 6)
  * where sum is an exact 6dp decimal — the quotient's shortest repr
  * landed on a 6dp midpoint and Spark (shortest-string HALF_UP) and
  * DuckDB (exact-binary) rounded apart by 1e-6. Rule of thumb: never
  * round a DIVISION result at the comparison edge when the numerator is
  * already exact at the target scale — ship the exact sum (identity
  * under round) and let consumers divide.
  */
/** Per-run scratch dirs, deleted on JVM exit — repeated Verify/Bench
  * invocations must not accumulate staging data on shared tmp storage
  * (the operational discipline a production job's staging prefix gets
  * from a lifecycle rule).
  */
object Scratch {
  private val created = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val hook = new Thread(() => {
    created.forEach(p => deleteRecursively(new java.io.File(p)))
  })
  Runtime.getRuntime.addShutdownHook(hook)

  /** The one recursive-delete primitive (previously copy-pasted at a
    * dozen sites). Deliberately does not follow the path further if an
    * entry is a symlink to a directory: listFiles on the link is not
    * followed-then-deleted here because fixtures never contain links —
    * the link entry itself is unlinked like a file.
    */
  def deleteRecursively(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Hardlink-clone a staged fixture tree into a per-invocation scratch
    * dir: directories are recreated, files are hardlinked (same tmpfs —
    * ~a syscall per file instead of a Spark re-write + commit). Safe for
    * bases the caller MUTATES because every mutation path in this repo
    * replaces whole files/partition dirs (staged-swap / overwrite) and
    * never opens an existing data file for write — unlinking a clone's
    * entry leaves the staged source untouched. The `.graft_staged`
    * marker is skipped so the clone never masquerades as a staged root.
    * Falls back to a byte copy if the link fails (e.g. cross-device).
    */
  def cloneTree(src: String, dst: String): Unit = {
    val s = new java.io.File(src)
    require(s.isDirectory, s"cloneTree source is not a directory: $src")
    val d = new java.io.File(dst)
    require(d.mkdirs() || d.isDirectory, s"cannot create clone dir $dst")
    Option(s.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { f =>
      if (f.getName != ".graft_staged") {
        val t = new java.io.File(d, f.getName)
        if (f.isDirectory) cloneTree(f.getPath, t.getPath)
        else
          try java.nio.file.Files.createLink(t.toPath, f.toPath)
          catch {
            case _: UnsupportedOperationException | _: java.io.IOException =>
              java.nio.file.Files.copy(f.toPath, t.toPath,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
          }
      }
    }
  }

  private val stageLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Idempotent (possibly multi-step) fixture staging: runs `build`
    * under a per-path JVM-wide lock, then writes a `.graft_staged`
    * completion marker. Callers must guard on THIS marker rather than
    * on Spark's `_SUCCESS`: `_SUCCESS` is committed by the FIRST write
    * step of a multi-step stage (e.g. gen1 of a schema-evolution pair,
    * or a CSV write that a garbage-injection step follows), so a crash
    * between steps would otherwise leave a half-staged fixture that
    * every later run trusts. A crash mid-build leaves no marker → the
    * next caller re-runs the (overwrite-mode, deterministic) build.
    * The lock also serializes two sessions in one JVM racing the same
    * stage; cross-process races remain possible but the driver harness
    * runs one JVM at a time.
    */
  /** Durability caveat: the marker write is fsync'd but the build's own
    * data files are not — on a PERSISTENT tmpdir a power loss can leave
    * a durable marker over unflushed data pages. Process crashes are
    * safe (the marker is written last); full power-loss durability
    * would require fsyncing every build output, which the tmpfs-backed
    * harness deliberately does not pay.
    */
  def staged(path: String)(build: => Unit): String = {
    val lock = stageLocks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      val marker = new java.io.File(path, ".graft_staged")
      if (!marker.exists()) {
        build
        writeDurable(marker.toPath, "ok")
      }
    }
    path
  }

  /** (name, size, mtime) fingerprint over every parquet fixture in the
    * sfDir — the version key for cross-run staged derivatives. A
    * testdata drop that changes any source re-keys every staged path
    * even when file byte-sizes happen to collide.
    */
  def fixtureFingerprint(sfDir: String): String =
    try {
      val listed = new java.io.File(sfDir)
        .listFiles((_, n) => n.endsWith(".parquet"))
      // listFiles reports a missing/unlistable dir by returning NULL,
      // not by throwing — so the failure sentinel must fire here too,
      // or a driver mid-swap window would hash the empty signature to
      // a real-looking hex fingerprint and arm the supersession GC
      // against the live root. Zero parquet files is the same mid-swap
      // signal: no fixture dir is legitimately empty.
      if (listed == null || listed.isEmpty) "0"
      else fnv(listed.toSeq)
    } catch { case _: Throwable => "0" }

  /** The [[fixtureFingerprint]] recipe applied to one path: the file
    * itself, or every file under a directory (a parquet dataset). "0"
    * when nothing is there.
    */
  def pathSignature(path: String): String =
    try {
      val root = new java.io.File(path)
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).toSeq.flatten.flatMap(files)
        else Seq(f)
      val listed = if (root.exists()) files(root) else Nil
      if (listed.isEmpty) "0" else fnv(listed)
    } catch { case _: Throwable => "0" }

  /** Stable 64-bit FNV-1a over the files' (name, size, mtime), in name
    * order.
    */
  private def fnv(files: Seq[java.io.File]): String = {
    val sig = files.sortBy(_.getPath)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|")
    var h = 0xcbf29ce484222325L
    sig.foreach { c => h ^= c.toLong; h *= 0x100000001b3L }
    java.lang.Long.toHexString(h)
  }

  /** Close-safe read of a small text manifest — the read twin of
    * [[atomicPublish]]. `scala.io.Source` holds an open fd until GC if
    * not closed; manifest reads happen on every query over a published
    * table, so the leak compounds.
    */
  def readManifest(path: String): String = {
    // UTF-8 explicitly: the write twin (writeDurable) always emits
    // UTF-8, and the platform default in a C-locale container is
    // ASCII — a non-ASCII path or text in a manifest would read back
    // garbled under the default
    val src = scala.io.Source.fromFile(path)(scala.io.Codec.UTF8)
    try src.mkString finally src.close()
  }

  /** The partition-dir listing idiom shared by every partitioned-layout
    * operator: `<prefix>`-named child DIRECTORIES of root, guarded
    * against a missing root (listFiles → null), sorted by name so every
    * caller sees one deterministic order.
    */
  def listPartitionDirs(root: String, prefix: String): Array[java.io.File] =
    Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .sortBy(_.getName)

  private val dirCtr = new java.util.concurrent.atomic.AtomicLong()

  /** A fresh tracked scratch dir under java.io.tmpdir. The counter, not
    * nanoTime alone: two threads inside one clock tick (platform tick
    * can be ~100ns) would otherwise share a path and clobber each
    * other's staging writes. mkdirs is CHECKED so an unwritable tmpdir
    * fails here with the path in hand, not later in a Spark task.
    */
  def dir(prefix: String): String = {
    val d = s"${sys.props("java.io.tmpdir")}/graft_scratch/" +
      s"${prefix}_${System.nanoTime()}_${dirCtr.incrementAndGet()}"
    val f = new java.io.File(d)
    require(f.mkdirs() || f.isDirectory, s"cannot create scratch dir $d")
    created.add(d)
    d
  }

  /** Root for cross-run staged stream fixtures (CDC feeds, event file
    * drops), VERSIONED by a fingerprint of the source fixtures: the
    * stages are guarded by if-exists checks, so when the driver swaps
    * in a new testdata drop (observed round 7: events.ts re-encoded
    * TIMESTAMP(NANOS)→TIMESTAMP(MICROS)), an unversioned path would
    * silently replay stale feeds derived from the OLD data. Staged
    * feeds derive from MULTIPLE source tables (events for the stream
    * drops, orders for the CDC/offset-log feeds), so the fingerprint
    * folds (name, size, mtime) of EVERY parquet in the sfDir — a drop
    * that changes any source re-keys the root even when events.parquet
    * happens to keep its byte size.
    */
  def streamStageRoot(sfDir: String): String =
    versionedRoot("stream", sfDir)

  private val gcDone = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** A cross-run staged root VERSIONED by the fixture fingerprint, with
    * supersession GC: resolving the root for the current fingerprint
    * deletes sibling roots of the same kind AND same sfDir basename
    * carrying a different fingerprint — without this, every testdata
    * drop permanently orphaned a full staged fixture set on shared tmp
    * (CSV/JSON/ORC dumps, partitioned events, offset logs), violating
    * the no-accumulation charter above. Roots for OTHER sfDirs
    * (different basename) are untouched: sf0.001 tests and sf0.1 bench
    * legitimately coexist in one JVM. The sweep runs once per
    * (kind, basename, fingerprint) per JVM.
    */
  def versionedRoot(kind: String, sfDir: String): String =
    versionedRoot(kind, sfDir, fixtureFingerprint(sfDir))

  /** Overload taking a precomputed fingerprint so hot callers that also
    * need `fp` for their own keys (ensureBucketed's catalog table names)
    * stat the fixture directory once, not twice, per call.
    */
  /** 8-hex FNV tag of a directory's ABSOLUTE path — the identity token
    * baked into staged-root AND catalog-table names: distinct sfDirs
    * can share a sanitized basename (…/v1/sf0.1 vs …/v2/sf0.1, or
    * sf0.1 vs sf0_1 through the '.' sanitizer), and a supersession
    * sweep keyed on basename alone would drop the OTHER fixture's LIVE
    * artifacts mid-read.
    */
  def pathTag(sfDir: String): String = {
    val abs = new java.io.File(sfDir).getAbsolutePath
    var th = 0xcbf29ce484222325L
    abs.foreach { c => th ^= c.toLong; th *= 0x100000001b3L }
    f"${th & 0xffffffffL}%08x"
  }

  def versionedRoot(kind: String, sfDir: String, fp: String): String = {
    val base = new java.io.File(sfDir).getName.replace(".", "_")
    val tag = pathTag(sfDir)
    val tmp = sys.props("java.io.tmpdir")
    val prefix = s"graft_${kind}_${base}_${tag}_"
    val name = s"$prefix$fp"
    // fp == "0" is fixtureFingerprint's listing-failure sentinel (the
    // driver may be mid-swap on the fixture dir): NEVER GC on it — a
    // sweep keyed to the sentinel would delete the CURRENT valid root
    // while queries read it, and the sentinel root itself stays small
    // because real fingerprints resume once the dir is listable again
    if (fp != "0" && gcDone.add(name)) {
      // legacy shapes: the pre-TAG per-basename roots
      // (graft_<kind>_<base>_<fp-hex> — remainder pure hex, so a
      // NEW-format sibling's "<tag>_<fp>" tail never matches), the
      // pre-versioning graft_<kind>_<fp-hex>, and the shared
      // graft_<kind> root.
      // ONE-TIME MIGRATION, single-JVM assumption (r12 ADVICE,
      // documented as accepted): the legacyBase arm sweeps ANY
      // pure-hex-remainder root sharing this sanitized basename —
      // including the LIVE legacy-format root of a DIFFERENT sfDir with
      // the same basename, if an OLDER build (pre-path-tag) were still
      // running against it concurrently. The harness runs one build per
      // host, so mixed-version concurrent operation doesn't occur; once
      // every root on a host is tag-format (first run of this build),
      // the arm matches nothing ever again. Removing it would leak one
      // legacy root per (kind, basename) forever instead.
      val legacyBase = s"graft_${kind}_${base}_"
      val legacy = ("^graft_" + kind + "_[0-9a-f]{1,16}$").r
      Option(new java.io.File(tmp).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => (isSupersededName(f.getName, prefix, name) ||
          isSupersededName(f.getName, legacyBase, name) ||
          ((legacy.matches(f.getName) ||
            f.getName == s"graft_$kind") && f.getName != name)))
        .foreach(deleteRecursively)
    }
    s"$tmp/$name"
  }

  private val fpHex = "^[0-9a-f]{1,16}$".r

  /** The ONE supersession predicate, shared by the tmp-root GC above
    * and the bucketed-catalog drop (Joins.ensureBucketed): `nm` is a
    * superseded sibling of `current` iff it carries the same prefix and
    * a PURE-HEX fingerprint remainder. The hex rule is load-bearing: a
    * bare startsWith(prefix) would also admit OTHER sfDirs whose
    * sanitized basename extends this one (sf0.1 vs sf0.1.v2 both land
    * in the graft_<kind>_sf0_1_ prefix space), deleting a live root or
    * table out from under that sfDir's readers. Must stay in lockstep
    * with [[fixtureFingerprint]]'s output alphabet.
    */
  private[graft] def isSupersededName(nm: String, prefix: String,
      current: String): Boolean =
    nm != current && nm.startsWith(prefix) &&
      fpHex.matches(nm.stripPrefix(prefix))

  /** Durable small-file write for manifest commit points: the bytes are
    * fsync'd before returning so a subsequent ATOMIC_MOVE can never
    * publish an empty or partially-flushed manifest (a buffered
    * PrintWriter both swallows I/O errors and leaves unsynced pages).
    */
  def writeDurable(path: java.nio.file.Path, content: String): Unit = {
    val ch = java.nio.channels.FileChannel.open(path,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    try {
      val buf = java.nio.ByteBuffer.wrap(
        content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      while (buf.hasRemaining) ch.write(buf)
      ch.force(true)
    } finally ch.close()
  }

  /** Fsync a DIRECTORY: an ATOMIC_MOVE is only a durable commit point
    * once the directory entry itself is flushed — without this, power
    * loss after the rename can roll the pointer back to the previous
    * version on ext4/xfs even though the rename "succeeded".
    */
  def fsyncDir(dir: java.nio.file.Path): Unit =
    try {
      val ch = java.nio.channels.FileChannel.open(dir,
        java.nio.file.StandardOpenOption.READ)
      try ch.force(true)
      finally ch.close()
    } catch {
      // directories cannot be opened/fsync'd on some platforms
      // (Windows) — same guarded pattern Kafka/Lucene use; on POSIX
      // the force above is the real directory-entry flush
      case _: java.io.IOException => ()
    }

  /** THE durable-commit primitive every manifest commit point goes
    * through (version pointers, txn manifests, offset-log segments,
    * block registries): fsync'd bytes to `<path>.tmp`, ATOMIC_MOVE over
    * `path`, fsync the parent directory so the rename itself survives
    * power loss. One implementation so a protocol fix lands everywhere.
    */
  def atomicPublish(path: java.nio.file.Path, content: String): Unit = {
    // unique tmp sibling, not a fixed ".tmp": two concurrent publishers
    // to the same path would interleave writes into one tmp file and
    // atomically publish a BLEND of both payloads (the harness mains
    // are sequential, but the primitive is advertised as universal)
    val tmp = path.resolveSibling(
      s"${path.getFileName}.tmp.${Thread.currentThread().getId}." +
        s"${System.nanoTime()}")
    writeDurable(tmp, content)
    java.nio.file.Files.move(tmp, path,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    fsyncDir(path.getParent)
  }

  /** THE directory publish (a replayed version, a rewritten partition, a
    * rebuilt layout): a target left by an earlier run is deleted, then
    * ONE ATOMIC_MOVE puts the staged dir in its place and the parent is
    * fsync'd so the rename survives power loss. The delete and the move
    * are two steps: a crash between them leaves no target.
    */
  def publishDir(staged: java.nio.file.Path, target: java.nio.file.Path): Unit = {
    deleteRecursively(target.toFile)
    java.nio.file.Files.move(staged, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    fsyncDir(target.toAbsolutePath.getParent)
  }

  /** THE directory claim: the publish's move into a slot that must be
    * free — the rename doubles as a compare-and-swap. A taken slot means
    * another writer won: the staging is swept and the claim returns
    * false. Any other I/O error propagates with the staging left as is.
    */
  def claimDir(staged: java.nio.file.Path, slot: java.nio.file.Path): Boolean = {
    val won = !java.nio.file.Files.exists(slot) &&
      (try {
        java.nio.file.Files.move(staged, slot,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        true
      } catch {
        // ONLY a taken slot is a lost race. Linux surfaces ENOTEMPTY as
        // a GENERIC FileSystemException (not the
        // DirectoryNotEmptyException subclass), so discriminate by
        // state, not exception type: conflict iff another writer now
        // owns the slot. Anything else (ENOSPC, EACCES, …) is a real
        // I/O failure and must propagate, not masquerade as a conflict
        // with the staged data silently swept.
        case _: java.nio.file.FileSystemException
            if java.nio.file.Files.exists(slot) => false
      })
    if (won) fsyncDir(slot.toAbsolutePath.getParent)
    else deleteRecursively(staged.toFile)
    won
  }
}

object Json {
  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — one implementation for every harness that hand-emits
    * JSON (Verify's oracle dump, Bench's metric lines); a tab or CR in
    * builder-authored SQL or an env-supplied path would otherwise make
    * the driver's json.load fail and silently zero the round.
    */
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Sessions {
  /** The ONE local harness session builder (the Verify, Bench and dev
    * mains had four hand-copies whose CPUS defaults had already
    * drifted): local[cpus] with shuffle partitions = cpus, UTC session
    * timezone (the oracle gate's timezone — every main must run the
    * exact computation the gate verified), UI off, and a generated-class
    * cache sized for the CDC batch path and the LLM-operator mix.
    */
  def localHarness(defaultCpus: Int, logLevel: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static; Spark's 100 entries made every CDC batch recompile ≈60
      // generated classes (the LLM-operator mix too) and re-warm the JIT
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** The rule-isolation clone every routed key runs under: a fresh
    * session (so an installed optimizer rule never contaminates the
    * caller — the conf-tweaking-joins convention) that INHERITS the
    * caller's runtime shuffle partitioning. newSession() rebuilds
    * SQLConf from the SparkContext conf, silently discarding a
    * runtime-set spark.sql.shuffle.partitions — which would make
    * DeterminismSpec's two-partitionings contract vacuous for routed
    * keys (both runs at the context default).
    */
  def isolatedClone(s0: SparkSession): SparkSession = {
    val s = s0.newSession()
    s.conf.set("spark.sql.shuffle.partitions",
      s0.conf.get("spark.sql.shuffle.partitions"))
    s
  }
}

object Det {
  /** Exact order-independent sum of a double expression → double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(30, 6))).cast("double")

  /** Deterministic average: exact decimal sum (as double) / count of
    * ALL rows — deliberately NOT AVG's non-null count (oAvg mirrors the
    * same spelling, so the gate holds either way): callers averaging a
    * NULLABLE expression must pre-filter, or nulls deflate the mean on
    * both engines identically.
    */
  def davg(c: Column): Column =
    sum(c.cast(DecimalType(30, 6))).cast("double") / count(lit(1))

  /** Oracle-side spelling of [[dsum]]. */
  def oSum(expr: String): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(30,6))) AS DOUBLE)"

  /** Oracle-side spelling of [[davg]]. */
  def oAvg(expr: String): String =
    s"(CAST(SUM(CAST(($expr) AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*))"
}
