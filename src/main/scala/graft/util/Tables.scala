package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table access for the driver-provided testdata directories
  * (TESTDATA.md). At cluster scale these would be catalog tables; the
  * `dir`-parameterised form keeps the library storage-agnostic.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}

/** Collision-free identifier suffix for a fixture/layout dir: MD5-hex
  * prefix of the full path. Used wherever a dir keys a shared-session
  * name (temp views, catalog tables, warehouse subpaths) — unlike
  * `String.hashCode` it cannot collide across the handful of dirs a
  * process ever sees, and it is always a valid identifier fragment.
  */
object Names {
  def pathKey(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
}

/** Per-JVM build-once guard for idempotent layout writes: the first
  * caller for a path runs the write; later callers (and concurrent
  * ones, via the double-checked lock) see it already built and reuse
  * the files. The path is marked built only AFTER the write returns —
  * a failed first write must not leave later calls reading a partial
  * directory. Per-JVM is the right lifetime because [[Warehouse]]'s
  * unconfigured root is per-process: a fresh JVM rebuilds, in-session
  * re-runs reuse, and no JVM can overwrite a layout another session in
  * the SAME JVM is lazily reading.
  */
object BuildOnce {
  private val built = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def apply(path: String)(build: => Unit): Unit =
    if (!built.contains(path)) built.synchronized {
      if (!built.contains(path)) { build; built.add(path) }
    }
}

/** Root for engine-WRITTEN physical layouts (bucketed tables, day/cell
  * partitioned parquet): `spark.graft.warehouse.dir` when set — a real
  * deployment points this at its warehouse/object-store prefix — else a
  * PROCESS-UNIQUE temp directory. The process token matters: the
  * build-once guards on these layouts are per-JVM, so the path lifetime
  * must be per-JVM too — with a shared path, a bench JVM could
  * overwrite a layout a test JVM is mid-way through reading. A
  * configured warehouse is used verbatim (concurrent writers there are
  * the deployment catalog's contract, as with any managed table).
  */
object Warehouse {
  private lazy val procToken: String = ProcessHandle.current().pid().toString

  /** The unconfigured per-process fallback root, created lazily and
    * deleted by a JVM shutdown hook — without the hook every run would
    * leak its bucketed/ivf/knnidx layouts into java.io.tmpdir forever
    * (the per-PID token that makes concurrent JVMs safe also means no
    * later run ever overwrites an earlier run's directory).
    */
  private lazy val fallbackRoot: String = {
    val f = new java.io.File(System.getProperty("java.io.tmpdir"), s"graft_wh_$procToken")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(f)))
    f.getAbsolutePath
  }

  private def deleteRec(f: java.io.File): Unit = {
    val fs = f.listFiles()
    if (fs != null) fs.foreach(deleteRec)
    f.delete(): Unit
  }

  def dir(s: SparkSession, sub: String): String = {
    val base = s.conf.getOption("spark.graft.warehouse.dir").getOrElse(fallbackRoot)
    new java.io.File(base, sub).getAbsolutePath
  }
}

/** Session-scoped reuse of shared pipeline stages (sliding SFA words,
  * fitted models). Several registered queries consume the same upstream
  * stage — words feed bags, joins, χ² selection, classifiers — and a
  * real user session computes such a stage once and fans out. Entries
  * are `cache()`d DataFrames or fitted model objects, keyed by (session
  * UUID, logical key): unlike an identity hash the UUID cannot alias
  * after a session is GC'd, and entries don't pin the session object.
  * At cluster scale the same role is played by a persisted table /
  * model store; nothing here assumes local mode. A JVM cycling sessions
  * evicts a stopped session's entries with [[evict]]; [[clear]] drops
  * everything (Bench does this after its warmup, so the first
  * *measured* consumer of a stage still pays for building it).
  */
object Pipelines {
  import scala.collection.concurrent.TrieMap
  private val dfs = TrieMap.empty[(String, String), DataFrame]
  private val objs = TrieMap.empty[(String, String), AnyRef]

  /** Per-key build locks: overlapped builds ([[Overlap]]) may race on
    * a SHARED upstream stage, and a bare `TrieMap.getOrElseUpdate`
    * evaluates the builder in both racers — for a persisted stage that
    * is double compute plus a leaked persist. Single-flight per key:
    * losers block and read the winner's entry. Deadlock-free because
    * stage dependencies form a DAG (a cycle would be infinite recursion
    * even single-threaded). A build whose lock [[evict]]/[[clear]]
    * dropped meanwhile goes to its caller unstored and `release`d.
    */
  private val buildLocks = TrieMap.empty[(String, String), Object]
  private def singleFlight[T](map: TrieMap[(String, String), T], k: (String, String),
      release: T => Unit)(build: => T): T =
    map.get(k).getOrElse {
      val lock = buildLocks.getOrElseUpdate(k, new Object)
      lock.synchronized {
        map.get(k).getOrElse {
          val v = build
          val owned = buildLocks.synchronized {
            buildLocks.get(k).exists(_ eq lock) && { map.put(k, v); true }
          }
          if (!owned) release(v)
          v
        }
      }
    }

  private def unpersist(df: DataFrame): Unit =
    try df.unpersist() catch { case _: Throwable => () }

  private def sid(s: SparkSession): String =
    org.apache.spark.sql.graft.Bridge.sessionUUID(s)

  /** Build-once cached DataFrame for this session, materialized eagerly:
    * a shared stage is by definition multi-consumer, and consumers inside
    * one composed plan (broadcast/subquery subtrees) are submitted
    * concurrently — against a lazily-cached stage each would recompute
    * the whole build independently.
    *
    * Storage policy: explicit MEMORY_AND_DISK (also `Dataset.cache()`'s
    * default — unlike RDDs, a DataFrame cache NEVER OOMs on overflow, it
    * spills). Several keyed stages here are fact-proportional
    * (curation.grams, graph.sym, j1 vecs), so the materialized row count
    * is logged: at a 100× corpus the log shows WHAT grew and the level
    * guarantees the cache degrades to disk, not to an executor OOM.
    */
  def cachedDF(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    singleFlight(dfs, (sid(s), key), unpersist) {
      val df = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = df.count()
      System.err.println(s"[cache] $key: $n rows (MEMORY_AND_DISK)")
      df
    }

  /** Build-once shared object (fitted model, broadcast bins) for this session. */
  def cachedObj[T <: AnyRef](s: SparkSession, key: String)(build: => T): T =
    singleFlight(objs, (sid(s), key), (_: AnyRef) => ())(build).asInstanceOf[T]

  /** A memoized clone of `s` with `overrides` set on it, for plans that
    * need settings the caller's session must not be steered into: the
    * clone has its own SQL conf, shares the caller's cache manager, and
    * is memoized per calling session and `name`, so repeated passes
    * reuse ONE SessionState. The runtime confs scans depend on are
    * re-synced from the caller on EVERY call, not only at creation
    * (`newSession()` starts from the context defaults): a caller that
    * changes e.g. its time zone must not read through a clone that kept
    * the stale value. An override wins over its mirrored conf.
    */
  def clonedSession(s: SparkSession, name: String, overrides: (String, String)*): SparkSession = {
    val s2 = cachedObj(s, s"session:$name") {
      val fresh = s.newSession()
      overrides.foreach { case (k, v) => fresh.conf.set(k, v) }
      fresh
    }
    Seq("spark.sql.session.timeZone", "spark.sql.shuffle.partitions",
        "spark.sql.legacy.parquet.nanosAsLong")
      .filterNot(k => overrides.exists(_._1 == k))
      .foreach(k => scala.util.Try(s2.conf.set(k, s.conf.get(k))))
    s2
  }

  /** The DSv2 clone the pushdown queries read through: parquet routed to
    * the v2 source with footer-aggregate pushdown on, so the caller's v1
    * plan shapes (and their pinned gates) stay untouched.
    */
  def dsv2Session(s: SparkSession): SparkSession =
    clonedSession(s, "dsv2",
      "spark.sql.sources.useV1SourceList" -> "",
      "spark.sql.parquet.aggregatePushdown" -> "true")

  /** Cache `df` AND register it for session-scoped release: an ad-hoc
    * intra-query `.cache()` has no owner, so it would survive
    * [[clear]]/[[evict]] for the JVM lifetime. Unlike [[cachedDF]] the
    * frame is not eagerly materialized — this is ownership bookkeeping,
    * not memoization. Keyed by the SEMANTIC hash of the ANALYZED plan
    * (the unanalyzed plan names each `functions` lambda variable afresh
    * on every build, so two builds of one frame would hash apart): a
    * re-run of the same query registers the same key and replaces its
    * old entry (identical plans share one CacheManager entry, so no
    * unpersist is needed on replace), while genuinely different plans
    * — including concurrent branch fits calling from one source line —
    * keep distinct entries. A long-lived session's registry is therefore
    * bounded by its distinct tracked plans, not its call count.
    */
  def tracked(s: SparkSession, df: DataFrame): DataFrame =
    trackedIn(s, s"plan:${df.queryExecution.analyzed.semanticHash()}", df)

  /** [[tracked]] in a caller-named slot, for a per-call frame whose plan
    * is new on every call (it holds a literal of the call's own inputs),
    * which [[tracked]] would keep once per call until [[clear]]. The
    * slot holds one frame: a later call replaces the earlier frame and
    * unpersists it, unless both plans are the same (they then share one
    * cache entry). A caller still evaluating a replaced frame recomputes
    * it from its plan, with the same result.
    */
  def trackedIn(s: SparkSession, slot: String, df: DataFrame): DataFrame = {
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    dfs.put((sid(s), s"_tracked:$slot"), cached)
      .filterNot(_.queryExecution.analyzed.sameResult(cached.queryExecution.analyzed))
      .foreach(unpersist)
    cached
  }

  /** Drop (and unpersist) every entry cached for `s` — call when a
    * session stops to release its storage.
    */
  def evict(s: SparkSession): Unit = {
    val id = sid(s)
    buildLocks.synchronized {
      buildLocks.keys.filter(_._1 == id).foreach(buildLocks.remove)
      objs.keys.filter(_._1 == id).foreach(objs.remove)
      dfs.keys.filter(_._1 == id).toSeq.flatMap(dfs.remove)
    }.foreach(unpersist)
  }

  def clear(): Unit =
    buildLocks.synchronized {
      val all = dfs.values.toSeq
      dfs.clear(); objs.clear(); buildLocks.clear()
      all
    }.foreach(unpersist)

  /** Drop (and unpersist) ONE cached DataFrame stage for `s`, keeping
    * every other entry — for callers that must force a fit object
    * without leaving its UPSTREAM shared stages warm (Bench's s9
    * prefit: the fit is an input artifact, but the series cache it
    * built would flatter the first measured series consumer).
    */
  def dropDF(s: SparkSession, key: String): Unit =
    dfs.remove((sid(s), key)).foreach(unpersist)

  /** Partition count for an iterative driver-coordinated ML fit over
    * `n` feature rows. Every MLlib L-BFGS iteration launches a
    * treeAggregate over ALL partitions of the input; feature frames
    * arriving from a groupBy carry `spark.sql.shuffle.partitions`
    * mostly-empty partitions, so a 100-row fit pays 32 tasks × 2
    * stages × ~100 iterations of pure scheduling overhead. Coalescing
    * to ~5k rows/partition keeps small fits single-task while leaving
    * cluster-scale inputs wide.
    */
  def fitParallelism(n: Long): Int =
    math.max(1L, math.min(1024L, n / 5000L)).toInt
}

/** Size-gated broadcast: the single place a fact-derived frame is ever
  * allowed onto the broadcast side of a join. Model-sized state (bins,
  * dictionaries, centroids, configs) may call `functions.broadcast`
  * directly; anything proportional to a fact table must come through
  * here with its row count, so the gate — and a logged fallback — is a
  * grep-able invariant rather than a convention.
  */
object Gated {
  /** Default row ceiling for a broadcastable fact-derived frame. Sized
    * for wide rows (the j1 dense path ships ≤4096-long vectors ≈ 32 KB/
    * row → ~64 MB at the ceiling); caller may pass a tighter/looser
    * ceiling when it knows the row width.
    */
  val DefaultMaxRows = 2000L

  /** Broadcast `df` when `rows` is under `maxRows`; otherwise log and
    * return it as-is, letting the join planner shuffle it. Correctness
    * never depends on the choice — only the physical plan does.
    */
  def broadcastIfUnder(df: DataFrame, rows: Long, maxRows: Long, what: String): DataFrame =
    if (rows <= maxRows) org.apache.spark.sql.functions.broadcast(df)
    else {
      System.err.println(
        s"[gated] $what: $rows rows > broadcast ceiling $maxRows — shuffle join fallback")
      df
    }

  /** Deterministic row-count chunking for block-nested-loop broadcasts:
    * split `df` into `numChunks(rows, maxRows)` slices on a hash of
    * `key`, each provably under the broadcast ceiling in expectation.
    * The caller loops slices (broadcasting each) and unions results —
    * the standard shape when the build side is fact-proportional but
    * the probe side must not shuffle.
    */
  def numChunks(rows: Long, maxRows: Long): Int =
    math.max(1L, (rows + maxRows - 1) / maxRows).toInt

  def chunk(df: DataFrame, key: String, i: Int, n: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    // hash first: raw keys are often structured (e.g. every test doc_id
    // ≡ 0 mod 10), which would skew or empty modulo slices
    if (n <= 1) df else df.filter(pmod(hash(col(key)), lit(n)) === i)
  }
}

/** A named query plus (optionally) the ANSI-SQL oracle the driver runs in
  * DuckDB over the same parquet tables. Column names and types must match
  * the Spark result exactly (driver sorts columns by name, then hashes).
  *
  * Determinism rules used throughout (see SURVEY §7.4 #1):
  *  - monetary/measure doubles are scaled to integer "cents" before
  *    summing, so aggregate sums are order-independent and bit-exact
  *    across engines;
  *  - derived doubles are produced by identical scalar expressions on
  *    those exact integers (IEEE ops are deterministic; only sum ORDER
  *    varies between engines);
  *  - every result has a total ORDER BY over a unique key.
  */
final case class QueryDef(
    impl: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

/** Cross-engine deterministic rounding: `floor(v·10^d + 0.5) / 10^d`.
  *
  * Spark's `round()` routes doubles through `BigDecimal.valueOf` (the
  * SHORTEST decimal string), so `round(0.285, 2) = 0.29`, while DuckDB's
  * `ROUND` sees the true binary value 0.28499999999999998 and yields
  * 0.28 — rows_match with hash_match=false whenever a value's shortest
  * repr ends in a tie digit. The floor form is pure IEEE mul/add/floor/
  * div, bit-identical in any engine, and is also exactly Java
  * `Math.round` semantics — what the reference's orderline rounding
  * (SFA.java:402) computes.
  */
object Rnd {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.floor

  /** Spark column form. */
  def jround(c: Column, digits: Int): Column = {
    val s = math.pow(10, digits)
    floor(c * s + 0.5) / s
  }

  /** DuckDB/ANSI SQL text form (same IEEE ops → same bits). */
  def jroundSql(e: String, digits: Int): String =
    s"FLOOR(($e) * 1e$digits + 0.5) / 1e$digits"
}

object QueryDef {
  def sql(impl: (SparkSession, String) => DataFrame, oracleSql: String, doc: String = ""): QueryDef =
    QueryDef(impl, Some(oracleSql), doc)
  def rowsOnly(impl: (SparkSession, String) => DataFrame, doc: String = ""): QueryDef =
    QueryDef(impl, None, doc)
}
