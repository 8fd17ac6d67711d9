package graft.operators

/** Shared machinery for build-once stored indexes (IVF/SRP vector
  * indexes, the shingle index): a per-JVM cache keyed on (corpus dir,
  * corpus fingerprint) so an index is built exactly once per corpus
  * VERSION — untouched corpora are served from the stored tables,
  * mutated corpora trigger a rebuild instead of silently serving
  * stale results, and retired builds' scratch roots are reclaimed.
  *
  * Build wall-clock is recorded per index kind in [[buildLog]]: probe
  * queries deliberately time only serving cost (the build runs during
  * Bench warmup — the build-once/probe-many accounting), and the log
  * is what surfaces the amortized build cost in the bench artifact so
  * the serving numbers can be read honestly.
  */
private[graft] object StoredIndexes {

  /** @param files data-file listing ([[dataListing]]) of the corpus
    *   state this entry covers — the append-only witness the ingest
    *   APIs check before extending the index instead of rebuilding
    * @param rows corpus rows covered by the index; -1 = not tracked
    *   yet (backfilled on the first ingest, then counter-maintained so
    *   coverage checks never rescan the index) */
  final case class Cached[A](fingerprint: String, root: String, index: A,
      files: Map[String, String] = Map.empty, rows: Long = -1L)

  /** Seconds spent building each index kind in this JVM (rebuilds
    * accumulate). Bench emits this as the `build` section. */
  val buildLog =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** Run INDEPENDENT build steps as concurrent Spark jobs (guide §2.6:
    * actions are only sequential because driver code calls them
    * sequentially — submitting from a small pool lets the next write's
    * tasks back-fill executors freed by the current write's tail,
    * instead of every build paying its stages' straggler tails
    * end-to-end). Safe here because TableStore serializes transitions
    * per table and each step writes a DISTINCT table. Every step runs
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

  /** Fingerprint of the files backing `dir/file`: stable while the
    * corpus is untouched, changes on any append/rewrite UNDER THE
    * ASSUMPTION that writers emit fresh (UUID-named) part files —
    * which Spark's parquet writer always does. A byte-level in-place
    * rewrite that preserves every file's name, size and millisecond
    * mtime would evade it; that requires a deliberate non-Spark
    * writer and is outside the threat model. */
  def fingerprint(dir: String, file: String): String = {
    val p = java.nio.file.Paths.get(dir, file)
    if (!java.nio.file.Files.exists(p)) "absent"
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted().forEach { f =>
        val sz =
          if (java.nio.file.Files.isRegularFile(f))
            java.nio.file.Files.size(f)
          else 0L
        md.update((p.relativize(f).toString + "|" + sz + "|" +
          java.nio.file.Files.getLastModifiedTime(f).toMillis + "\n")
          .getBytes("UTF-8"))
      } finally walk.close()
      md.digest().map("%02x".format(_)).mkString
    }
  }

  // Measured serving knobs (the IVF probe width, the SRP radius, the
  // PQ re-rank depth) per (corpus dir, knob), each pinned to the
  // embeddings fingerprint it was measured on: any corpus change —
  // rewrite OR append-only ingest — reverts the knob to its default
  // until the next retune, because a value tuned on one geometry says
  // nothing about another. The check is a file-metadata walk, the
  // cost every stored-index probe already pays.
  private val servingKnobs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (String, Int)]()

  /** `knob`'s serving value for `dir`: the last [[setServingKnob]]
    * while the corpus is unchanged since, else `default`. */
  def servingKnob(dir: String, knob: String, default: Int): Int =
    Option(servingKnobs.get((dir, knob))) match {
      case Some((fp, v)) if fp == fingerprint(dir, "embeddings.parquet") => v
      case _ => default
    }

  def setServingKnob(dir: String, knob: String, value: Int): Unit = {
    servingKnobs.put((dir, knob), (fingerprint(dir, "embeddings.parquet"), value))
    ()
  }

  /** Per-DATA-file signature (relative path → "size|mtime") of the
    * parquet files backing `dir/file`; metadata files (`_SUCCESS`,
    * dot-files) are excluded because append jobs legitimately rewrite
    * them. This is the append-only witness the ingest APIs check: a
    * corpus grew append-only iff every previously covered data file is
    * still present with an unchanged signature — new files are the
    * appended delta, any touched/vanished old file is an in-place
    * rewrite (upsert, compaction, overwrite) that invalidates
    * incremental maintenance. Same writer assumption as
    * [[fingerprint]] (fresh part files per write). */
  def dataListing(dir: String, file: String): Map[String, String] = {
    val p = java.nio.file.Paths.get(dir, file)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val walk = java.nio.file.Files.walk(p)
      try {
        val b = Map.newBuilder[String, String]
        walk.forEach { f =>
          val n = f.getFileName.toString
          if (java.nio.file.Files.isRegularFile(f) &&
              !n.startsWith("_") && !n.startsWith("."))
            b += p.relativize(f).toString ->
              (java.nio.file.Files.size(f) + "|" +
                java.nio.file.Files.getLastModifiedTime(f).toMillis)
        }
        b.result()
      } finally walk.close()
    }
  }

  /** True iff `now` extends `covered` without touching it: every
    * covered file still present, byte-identical by signature. */
  def appendOnly(covered: Map[String, String],
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
  // ------------------------------------------------------------------

  private val retired =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Record `root` as superseded as of now (no-op for rootless
    * driver-value entries). */
  def retireRoot(root: String): Unit =
    if (root != null && root.nonEmpty) {
      retired.put(root, System.currentTimeMillis()); ()
    }

  /** Currently retired-but-unreclaimed roots (spec observability). */
  def retiredRoots: Set[String] = {
    val b = Set.newBuilder[String]
    retired.forEach((r, _) => b += r)
    b.result()
  }

  /** Reclaim every root superseded at least `horizonMs` ago: delete
    * recursively and deregister from TempDirs. Returns the reclaimed
    * roots. Horizon 0 = reclaim everything retired (the post-quiesce
    * sweep); a serving deployment runs this periodically with its
    * read-SLA horizon, exactly like TableStore.vacuum. */
  def sweepRetired(horizonMs: Long): Seq[String] = {
    val cut = System.currentTimeMillis() - horizonMs
    val out = Seq.newBuilder[String]
    val it = retired.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue <= cut) {
        graft.tables.TempDirs.delete(e.getKey)
        it.remove()
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

  /** Build a fresh cache entry into a registered scratch root,
    * recording the build seconds under `kind` (via [[timedBuild]]),
    * shared by [[versioned]] and the ingest APIs. A THROWING build
    * deletes its own (possibly partially written) root before
    * rethrowing — the entry was never published, so nothing can read
    * it, and without the cleanup a repeatedly failing rebuild (e.g. a
    * corrupt corpus retried per probe) would leak one scratch root
    * per attempt, invisible to [[sweepRetired]]. */
  def rebuildEntry[A](fp: String, kind: String,
      files: Map[String, String] = Map.empty, rows: Long = -1L)(
      mk: String => A): Cached[A] = {
    val root = graft.tables.TempDirs.scratch(kind)
    try timedBuild(kind)(Cached(fp, root, mk(root), files, rows))
    catch {
      case e: Throwable =>
        try graft.tables.TempDirs.delete(root)
        catch { case _: Throwable => () } // best-effort; don't mask e
        throw e
    }
  }

  /** Serve `m(dir)` if its fingerprint still matches, else (re)build
    * via `mk` into a fresh registered scratch root. A superseded
    * build's root is NOT deleted eagerly — a reader holding a lazy
    * plan over the old index keeps its snapshot (the same retention
    * contract TableStore documents); retired roots are recorded for
    * [[sweepRetired]] (horizon-based reclamation for long-lived
    * serving processes) and otherwise fall at JVM exit.
    * `kind` names the index in [[buildLog]]. `cacheKey` overrides the
    * map key when one corpus dir can host several index variants
    * (parameterized builds); the fingerprint is always of `dir`. */
  def versioned[A](m: java.util.concurrent.ConcurrentHashMap[
      String, Cached[A]], dir: String, file: String, kind: String,
      cacheKey: String = null)(
      mk: String => A): A =
    m.compute(if (cacheKey == null) dir else cacheKey, (_, prev) => {
      val fp = fingerprint(dir, file)
      if (prev != null && prev.fingerprint == fp) prev
      else {
        // build FIRST, retire after: a throwing rebuild leaves prev
        // cached and servable — its root must not be queued for sweep
        val entry = rebuildEntry(fp, kind, dataListing(dir, file))(mk)
        if (prev != null) retireRoot(prev.root)
        entry
      }
    }).index

  /** [[versioned]] for DRIVER-VALUE artifacts (a learned profile, a
    * guard statistic): same fingerprint-keyed once-per-corpus-version
    * contract and the same build-cost accounting, but no scratch root
    * is allocated — the value lives on the driver, so there is nothing
    * to put on disk. `cacheKey` overrides the map key for
    * PARAMETERIZED builds (same contract as [[versioned]]'s): without
    * it a second call with different build parameters would silently
    * serve the first call's value off the fingerprint hit. */
  def versionedValue[A](m: java.util.concurrent.ConcurrentHashMap[
      String, Cached[A]], dir: String, file: String, kind: String,
      cacheKey: String = null)(
      mk: => A): A =
    m.compute(if (cacheKey == null) dir else cacheKey, (_, prev) => {
      val fp = fingerprint(dir, file)
      if (prev != null && prev.fingerprint == fp) prev
      else timedBuild(kind)(Cached(fp, "", mk))
    }).index
}
