package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge

/** Shared machinery for build-once stored indexes (IVF/SRP vector
  * indexes, postings, the shingle index): a per-JVM cache keyed on
  * corpus dir whose entries carry the corpus VERSION they cover
  * ([[dataListing]]), so an index is built exactly once per version —
  * untouched corpora are served from the stored tables, mutated
  * corpora trigger a rebuild instead of silently serving stale
  * results, an append-only batch is absorbed ([[maintain]]), and
  * retired builds' scratch roots are reclaimed. This object is the
  * only code that walks a corpus directory or decides whether a batch
  * extends the covered version.
  *
  * Build wall-clock is recorded per index kind in [[buildLog]]: probe
  * queries deliberately time only serving cost (the build runs during
  * Bench warmup — the build-once/probe-many accounting), and the log
  * is what surfaces the amortized build cost in the bench artifact so
  * the serving numbers can be read honestly.
  */
private[graft] object StoredIndexes {

  /** @param files the corpus version this entry covers
    *   ([[dataListing]]): the hit key of [[versioned]] and the
    *   append-only witness of [[maintain]]
    * @param rows corpus rows covered by the index; -1 = not tracked
    *   yet (backfilled on the first ingest, then counter-maintained so
    *   coverage checks never rescan the index) */
  final case class Cached[A](files: Map[String, String], root: String,
      index: A, rows: Long = -1L)

  /** Seconds spent building each index kind in this JVM (rebuilds
    * accumulate). Bench emits this as the `build` section. */
  val buildLog =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** Run INDEPENDENT build steps as concurrent Spark jobs (guide §2.6:
    * actions are only sequential because driver code calls them
    * sequentially — submitting from a small pool lets the next write's
    * tasks back-fill executors freed by the current write's tail,
    * instead of every build paying its stages' straggler tails
    * end-to-end). Safe here because each step writes a DISTINCT table,
    * and store commits on distinct tables never conflict. Every step runs
    * to its end, failed or not — a sibling's write is never
    * interrupted mid-flight — and then the first failure in step order
    * is rethrown unwrapped: the all-or-nothing surface the sequential
    * form had. */
  def inParallel(steps: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(steps.size)
    try {
      val futs = steps.map(st => pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = st()
      }))
      val failures = futs.flatMap { f =>
        try { f.get(); None }
        catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach(throw _)
    } finally { pool.shutdown(); () }
  }

  // Measured serving knobs (the IVF probe width, the SRP radius, the
  // PQ re-rank depth) per (corpus dir, knob), each pinned to the
  // embeddings version it was measured on: any corpus change —
  // rewrite OR append-only ingest — reverts the knob to its default
  // until the next retune, because a value tuned on one geometry says
  // nothing about another. The check is one listing walk, the cost
  // every stored-index probe already pays.
  private val servingKnobs = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (Map[String, String], Int)]()

  /** `knob`'s serving value for `dir`: the last [[setServingKnob]]
    * while the corpus is unchanged since, else `default`. */
  def servingKnob(dir: String, knob: String, default: Int): Int =
    Option(servingKnobs.get((dir, knob))) match {
      case Some((files, v)) if files == dataListing(dir, "embeddings.parquet") => v
      case _ => default
    }

  def setServingKnob(dir: String, knob: String, value: Int): Unit = {
    servingKnobs.put((dir, knob), (dataListing(dir, "embeddings.parquet"), value))
    ()
  }

  /** The corpus VERSION of `dir/file`, the one identity every cache
    * entry and serving knob is keyed on: relative path → "size|mtime"
    * of each data file Spark's parquet reader reads, taken in one walk.
    * What the reader skips (`_SUCCESS`, dot-files, `_temporary/`
    * attempt dirs, `._COPYING_`; [[Bridge.readerSkips]]) is not part of
    * it, and directories carry no entry: a metadata-only change is not
    * a new version, because identical data files read identically.
    * Sound while writers emit fresh (UUID-named) part files, which
    * Spark's parquet writer always does; an in-place rewrite that keeps
    * a file's name, size and millisecond mtime needs a deliberate
    * non-Spark writer and is outside the threat model. */
  private def dataListing(dir: String, file: String): Map[String, String] = {
    import java.nio.file.{FileVisitOption, FileVisitResult, Files, Path,
      SimpleFileVisitor}
    import java.nio.file.attribute.BasicFileAttributes
    val p = java.nio.file.Paths.get(dir, file)
    val b = Map.newBuilder[String, String]
    def rel(f: Path) = "/" + p.relativize(f).toString
    // links followed, as the reader follows them
    if (Files.exists(p)) Files.walkFileTree(p,
        java.util.EnumSet.of(FileVisitOption.FOLLOW_LINKS), Int.MaxValue,
        new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: BasicFileAttributes) =
        if (d != p && Bridge.readerSkips(rel(d) + "/")) FileVisitResult.SKIP_SUBTREE
        else FileVisitResult.CONTINUE
      override def visitFile(f: Path, a: BasicFileAttributes) = {
        if (a.isRegularFile && !Bridge.readerSkips(rel(f)))
          b += rel(f) -> s"${a.size}|${a.lastModifiedTime.toMillis}"
        FileVisitResult.CONTINUE
      }
    })
    b.result()
  }

  /** True iff `now` extends `covered` without touching it: every
    * covered file still present, byte-identical by signature. New
    * files are the appended delta; a changed or vanished covered file
    * is an in-place rewrite (upsert, compaction, overwrite). */
  private def appendOnly(covered: Map[String, String],
      now: Map[String, String]): Boolean =
    covered.forall { case (f, sig) => now.get(f).contains(sig) }

  // ------------------------------------------------------------------
  // retired-root retention (r13): superseded scratch roots used to fall
  // only at JVM exit — fine for a bench process, an unbounded leak for
  // a long-lived serving process that rewrites its corpus repeatedly.
  // Every entry replacement records the old root here with its
  // retirement time; [[sweepRetired]] applies the TableStore VACUUM
  // contract to them — reclaim what has been superseded longer than
  // the horizon, leave younger roots alone so an in-flight reader
  // holding a lazy plan over the old index keeps its snapshot within
  // the horizon. Unswept roots still fall at JVM exit via TempDirs.
  // Each root carries what else must go with it (a session-catalog
  // entry over a path in the root), run just before the delete.
  // ------------------------------------------------------------------

  private final case class Retired(atMs: Long, onReclaim: () => Unit)

  private val retired =
    new java.util.concurrent.ConcurrentHashMap[String, Retired]()

  /** Currently retired-but-unreclaimed roots (spec observability). */
  def retiredRoots: Set[String] = {
    val b = Set.newBuilder[String]
    retired.forEach((r, _) => b += r)
    b.result()
  }

  /** Reclaim every root superseded at least `horizonMs` ago: run its
    * reclaim hook, then delete recursively and deregister from
    * TempDirs. Returns the reclaimed roots. Horizon 0 = reclaim
    * everything retired (the post-quiesce sweep); a serving deployment
    * runs this periodically with its read-SLA horizon, exactly like
    * TableStore.vacuum. */
  def sweepRetired(horizonMs: Long): Seq[String] = {
    val cut = System.currentTimeMillis() - horizonMs
    val out = Seq.newBuilder[String]
    val it = retired.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.atMs <= cut) {
        it.remove()
        try e.getValue.onReclaim()
        finally graft.tables.TempDirs.delete(e.getKey)
        out += e.getKey
      }
    }
    out.result()
  }

  /** Run `mk`, accumulating its wall-clock under `kind` in
    * [[buildLog]] — the ONE timed build path, shared by every cache
    * entry constructor so the bench `build` section cannot
    * under-report. */
  private def timedBuild[A](kind: String)(mk: => A): A = {
    val t0 = System.nanoTime()
    val built = mk
    buildLog.merge(kind, (System.nanoTime() - t0) / 1e9, (a, b) => a + b)
    built
  }

  /** Build a fresh entry for corpus version `files` into a registered
    * scratch root (timed via [[timedBuild]]), then retire `prev`'s
    * root. Build FIRST, retire after: a throwing rebuild leaves prev
    * cached and servable, so its root must not be queued for sweep.
    * A superseded root is not deleted eagerly — a reader holding a
    * lazy plan over the old index keeps its snapshot (the retention
    * contract TableStore documents) until [[sweepRetired]] or JVM
    * exit. A THROWING build deletes its own (possibly partially
    * written) root before rethrowing — the entry was never published,
    * so nothing can read it, and without the cleanup a repeatedly
    * failing rebuild (e.g. a corrupt corpus retried per probe) would
    * leak one scratch root per attempt, invisible to [[sweepRetired]].
    * `onReclaim(prev.index)` runs when prev's root is reclaimed. */
  private def rebuildEntry[A](prev: Cached[A], kind: String,
      files: Map[String, String], rows: Long = -1L,
      onReclaim: A => Unit = (_: A) => ())(
      mk: String => A): Cached[A] = {
    val root = graft.tables.TempDirs.scratch(kind)
    val entry =
      try timedBuild(kind)(Cached(files, root, mk(root), rows))
      catch {
        case e: Throwable =>
          try graft.tables.TempDirs.delete(root)
          catch { case _: Throwable => () } // best-effort; don't mask e
          throw e
      }
    if (prev != null)
      retired.put(prev.root, Retired(System.currentTimeMillis(),
        () => onReclaim(prev.index)))
    entry
  }

  /** Replace the entry under `cacheKey` (default `dir`) by
    * `next(prev, version)`, where the version of `dir/file` comes from
    * ONE walk, atomically per key, and serve the result. Every entry
    * point below goes through here. */
  private def advance[A](m: java.util.concurrent.ConcurrentHashMap[
      String, Cached[A]], dir: String, file: String, cacheKey: String)(
      next: (Cached[A], Map[String, String]) => Cached[A]): A =
    m.compute(if (cacheKey == null) dir else cacheKey,
      (_, prev) => next(prev, dataListing(dir, file))).index

  /** Serve `m(dir)` while the corpus version `dir/file` is the one it
    * covers, else (re)build via `mk` into a fresh scratch root
    * ([[rebuildEntry]]). `kind` names the index in [[buildLog]].
    * `cacheKey` overrides the map key when one corpus dir can host
    * several index variants (parameterized builds); the version is
    * always of `dir`. `onReclaim` releases what a superseded index
    * holds outside its root; it runs when [[sweepRetired]] reclaims
    * that root, so a reader that resolved the old index keeps it
    * until then. */
  def versioned[A](m: java.util.concurrent.ConcurrentHashMap[
      String, Cached[A]], dir: String, file: String, kind: String,
      cacheKey: String = null, onReclaim: A => Unit = (_: A) => ())(
      mk: String => A): A =
    advance(m, dir, file, cacheKey) {
      (prev, files) =>
        if (prev != null && prev.files == files) prev
        else rebuildEntry(prev, kind, files, onReclaim = onReclaim)(mk)
    }

  /** [[versioned]] for DRIVER-VALUE artifacts (a learned profile, a
    * guard statistic): same once-per-corpus-version contract and the
    * same build-cost accounting, but no scratch root is allocated —
    * the value lives on the driver, so there is nothing to put on
    * disk. `cacheKey` overrides the map key for PARAMETERIZED builds
    * (same contract as [[versioned]]'s): without it a second call with
    * different build parameters would silently serve the first call's
    * value off the version hit. */
  def versionedValue[A](m: java.util.concurrent.ConcurrentHashMap[
      String, Cached[A]], dir: String, file: String, kind: String,
      cacheKey: String = null)(
      mk: => A): A =
    advance(m, dir, file, cacheKey) {
      (prev, files) =>
        if (prev != null && prev.files == files) prev
        else timedBuild(kind)(Cached(files, "", mk))
    }

  /** The ONE append-or-rebuild path of the incrementally maintained
    * indexes (IVF, SRP, postings). Call AFTER the corpus `dir/file`
    * has grown append-only by exactly `delta`; `delta = None` forces a
    * rebuild of the current version (the retune policy's rebuild arm,
    * which re-trains even when the version is unchanged).
    *
    * The contract is CHECKED at two levels before the index is
    * touched, and a violation falls back to a full logged rebuild:
    * (a) the corpus version must EXTEND the covered one
    * ([[appendOnly]]: an in-place rewrite such as an upsert, a
    * compaction or a same-count mutation changes or replaces old
    * files and is caught even when row counts still agree); (b)
    * `covered(prev)` + delta rows must equal the corpus row count (a
    * parquet metadata read), which catches foreign appends beyond the
    * handed delta. What remains trusted is only that an append-only
    * growth of exactly N rows IS the N delta rows handed in — the
    * caller owns the corpus writer. With no entry yet this is a build
    * over the full corpus.
    *
    * Per index: `build(root, corpusRows)` writes a full index;
    * `covered` says where the covered-row count comes from (a counter
    * on the entry, or a durable commit record in the index itself);
    * `absorb(index, delta, corpusRows)` extends the index in place,
    * replay-safely. An absorbed entry keeps its root and advances to
    * the new version with `rows` = corpus rows. */
  def maintain[A](spark: SparkSession,
      m: java.util.concurrent.ConcurrentHashMap[String, Cached[A]],
      dir: String, file: String, kind: String, delta: Option[DataFrame],
      cacheKey: String = null)(
      build: (String, Long) => A)(
      covered: Cached[A] => Long)(
      absorb: (A, DataFrame, Long) => Unit): A =
    advance(m, dir, file, cacheKey) {
      (prev, files) =>
        lazy val nCorpus: Long = spark.read.parquet(s"$dir/$file").count()
        def rebuilt = rebuildEntry(prev, kind, files, nCorpus)(build(_, nCorpus))
        delta match {
          case Some(rows) if prev != null && appendOnly(prev.files, files) =>
            val grown = rows.count() + covered(prev)
            if (grown != nCorpus) rebuilt
            else {
              absorb(prev.index, rows, grown)
              prev.copy(files = files, rows = grown)
            }
          case _ => rebuilt
        }
    }
}
