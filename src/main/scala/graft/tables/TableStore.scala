package graft.tables

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException,
  Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Versioned parquet table manager — a minimal log-structured MVCC
 * store mirroring the reference's mutable collections (insert/update
 * only, never delete — README.md:47) with the snapshot semantics flows
 * need.
 *
 * Layout: one store pointer, the file `root/_pointer`
 * ([[TableStore.Pointer]]), names every table's live version and every
 * flow's last committed batch id. Every version N of a table has a
 * manifest file `root/<table>/m<N>` listing the data segment dirs
 * (`d<K>/`) that compose the snapshot (its format:
 * [[TableStore.Manifest]]). `load` binds a DataFrame to the segment
 * list current AT CALL TIME.
 *
 * Writes are O(change), not O(table): `replace` materializes a full
 * new segment (mutating merges need it), but `append`/`appendUnique`
 * write ONLY the new rows as a fresh segment and publish a manifest
 * that extends the previous one — the same delta-log idea as
 * Delta/Iceberg commits (which is what this store becomes in
 * production). Segment counts are bounded by compaction: once a
 * manifest exceeds `CompactThreshold` segments the next append folds
 * them into one (their `OPTIMIZE`).
 *
 * Superseded versions and their segments are RETAINED, so lazy plans
 * captured before a publish stay readable for the rest of the batch —
 * the reader-snapshot guarantee of a transaction log. `vacuum` is the
 * version GC: it reclaims manifests/segments older than a retention
 * horizon of versions while keeping everything a reader inside the
 * horizon can still reference.
 *
 * The commit contract — every write is a [[commit]], and the store
 * has no other publish path:
 *
 *  - A commit pins the version of each table it reads or writes the
 *    first time it touches it, and reads that version for the rest of
 *    its body. Its writes stage segments under fresh directory names
 *    (`d<N>`, `d<N>-<k>` when another writer holds the name), where N
 *    is the pinned version + 1; a later read in the same body sees
 *    them.
 *  - When the body returns, the commit writes each written table's
 *    manifest `m<N>` and replaces the pointer in one atomic move,
 *    with the batch ids the body marked ([[Commit.markBatch]]). A
 *    reader sees all of the commit's tables and batch ids, or none.
 *    A commit that fails or throws before the move leaves no table
 *    and no batch id visible, and deletes what it staged.
 *  - First committer wins on the tables a commit WRITES: if one of
 *    them has moved since the commit pinned it, the commit discards
 *    its staging and re-runs its body once on fresh reads, this time
 *    holding the root lock from its first read to its flip. No other
 *    commit on the root can flip in between, so the re-run cannot
 *    lose again, and a long body cannot starve behind a stream of
 *    short ones; while it runs, the other commits wait at their flip.
 *    A re-run that still conflicts (another process writing the
 *    root, or a body that commits its own table outside its handle)
 *    fails loudly. Tables a commit only reads are not checked: two
 *    commits that each read the other's written table can both
 *    succeed (write skew).
 *  - The pointer moves under one JVM-wide lock per store root, so two
 *    `TableStore` instances on one root never clobber each other.
 *
 * The single-table ops (`replace`, `append`, `appendUnique`, `upsert`,
 * `compact`, `deleteWhere`) are one-op commits. A writer that builds
 * a frame from `load` and then calls one of them is not checked
 * against what it loaded; a read-modify-write that must not lose a
 * concurrent write runs in one [[commit]] and reads through its
 * handle. Readers are unrestricted.
 */
/** @param autoVacuumKeep every version transition GCs manifests (and
  *   their now-unreferenced segments) more than this many versions
  *   behind the new current — the always-on retention horizon that
  *   keeps long-running deployments from leaking storage linearly in
  *   commits. Readers must be no staler than `autoVacuumKeep` versions
  *   (flows bind reads per micro-batch, which advances a table a
  *   handful of versions at most). ≤ 0 disables; `vacuum()` remains
  *   available for explicit, tighter GC. */
final class TableStore(spark: SparkSession, root: String,
    autoVacuumKeep: Int = 16) {
  import TableStore.{Manifest, Pointer}
  Files.createDirectories(Paths.get(root))

  private val CompactThreshold = 16

  private val rootPath = Paths.get(root).toRealPath()
  private val pointerPath = rootPath.resolve("_pointer")
  // every commit's flip and abort, a losing commit's re-run and every
  // vacuum of this root, JVM-wide
  private val rootLock = TableStore.lockFor(rootPath)

  private def tdir(name: String): Path = rootPath.resolve(name)

  private def manifestPath(name: String, v: Int): Path =
    tdir(name).resolve(s"m$v")

  private def readManifest(p: Path): Manifest =
    Manifest.parse(new String(Files.readAllBytes(p), UTF_8), p.toString)

  private def manifest(name: String, v: Int): Manifest =
    readManifest(manifestPath(name, v))

  private def pointer(): Pointer =
    try Pointer.parse(new String(Files.readAllBytes(pointerPath), UTF_8),
      pointerPath.toString)
    catch { case _: NoSuchFileException => Pointer(Map.empty, Map.empty) }

  /** Version `v`'s manifest path, or the pointed error of a version
    * that was never committed or has been vacuumed. */
  private def requireReadable(name: String, v: Int): Path = {
    require(versionExists(name, v), s"table $name has no readable " +
      s"version $v (current ${version(name)}; older versions " +
      "may have been vacuumed)")
    manifestPath(name, v)
  }

  private def dirs(name: String, segs: Seq[String]): Seq[String] =
    segs.map(s => tdir(name).resolve(s).toString)

  /** The table's partition columns (hive layout) as recorded by the
    * manifest of its CURRENT version; empty for flat tables. */
  def partitionColumns(name: String): Seq[String] = {
    val v = version(name)
    if (v < 0) Nil else manifest(name, v).partitionBy
  }

  /** The schema segment `seg`, written from `df`, reads back under: a
    * flat frame's schema made nullable (no job), else its data columns
    * then its partition columns typed as hive inference reads them from
    * the segment's directory names (a listing, no footer read; a
    * zero-row write has no directories and keeps the frame's types).
    * For a partitioned segment also the listed frame, when it reads
    * under exactly that schema: the commit seeds the new version's
    * snapshot handle with it, so the first `load` lists nothing. */
  private def segmentSchema(name: String, seg: String, df: DataFrame,
      partitionBy: Seq[String]): (StructType, Option[DataFrame]) = {
    val flat = Bridge.nullable(df.schema)
    if (partitionBy.isEmpty) (flat, None)
    else {
      val data = StructType(flat.filterNot(f => partitionBy.contains(f.name)))
      val read = spark.read.schema(data).parquet(tdir(name).resolve(seg).toString)
      val schema = StructType(data ++ partitionBy.map(p =>
        read.schema.find(_.name == p).getOrElse(flat(p))))
      (schema, Option.when(read.schema == schema)(read))
    }
  }

  def exists(name: String): Boolean = version(name) >= 0

  /** The table's live version number (−1 if the table is absent) —
    * the handle time travel and CDC take. */
  def version(name: String): Int = pointer().tables.getOrElse(name, -1)

  /** True iff version `v` of `name` is committed and still readable
    * (at most the live version, its manifest not vacuumed) — the probe
    * incremental consumers use to decide between a delta read and a
    * full resync. A manifest above the live version is a commit that
    * never flipped, not a version. */
  def versionExists(name: String, v: Int): Boolean =
    v >= 0 && v <= version(name) && Files.exists(manifestPath(name, v))

  /** Snapshot read: bound to the segment list current at call time.
    * Partitioned tables with several delta segments read one scan per
    * segment unioned together — Spark's multi-path partition
    * discovery rejects sibling hive roots, and partition filters push
    * through the union into every branch, so pruning is preserved.
    * Each version resolves once through the table's snapshot handle. */
  def load(name: String): DataFrame = loadVersion(name, version(name))

  /** Snapshot handle: the resolved frame of a table's current version,
    * keyed by (version, manifest mtime). It holds metadata only — the
    * analysed plan, its `HadoopFsRelation`s with their file listings
    * and the schema — never rows. A published version is immutable, so
    * while the key holds, a read reuses the handle instead of listing
    * the segment dirs again; each read gets
    * a copy with fresh attribute ids ([[Bridge.freshRelations]]) so
    * reads of one version still self-join. Any publish moves the
    * version (and drops this instance's entry), and the next read
    * replaces the entry: one entry per table. The mtime catches a
    * table deleted and re-created at the same version by another
    * instance. */
  private final class Handle(val version: Int, val mtime: FileTime,
      val frame: DataFrame)
  private val handles = new ConcurrentHashMap[String, Handle]()
  private val resolving = new ConcurrentHashMap[String, Object]()

  /** Time-travel read: bind to the snapshot AS OF version `v` (any
    * version still inside the vacuum horizon — reclaimed versions fail
    * with a pointed error, the Delta/Iceberg `VERSION AS OF` contract).
    * The current version reads through the snapshot handle, older ones
    * resolve afresh. */
  def loadVersion(name: String, v: Int): DataFrame = {
    val cur = version(name)
    require(cur >= 0, s"table $name does not exist")
    val path = requireReadable(name, v)
    val mtime = Files.getLastModifiedTime(path)
    val held = handles.get(name)
    if (v == cur && held != null && held.version == v && held.mtime == mtime)
      return Bridge.freshRelations(held.frame)
    val m = readManifest(path)
    def read() = readDirs(dirs(name, m.segments), m)
    if (v == cur) Bridge.freshRelations(handleFor(name, v, mtime)(read()))
    else read()
  }

  /** The frame of `name`'s handle at (`v`, `mtime`), resolved with
    * `read` when the table has none. Resolution runs under the table's
    * lock, so reads racing on a newly published version resolve it once
    * between them instead of once each; a hit never takes the lock. The
    * entry is stored only while `v` is still current, so a read that
    * lost a race with a publish leaves no stale entry behind. */
  private def handleFor(name: String, v: Int, mtime: FileTime)(
      read: => DataFrame): DataFrame =
    resolving.computeIfAbsent(name, _ => new Object).synchronized {
      val held = handles.get(name)
      if (held != null && held.version == v && held.mtime == mtime) held.frame
      else {
        val frame = read
        if (version(name) == v)
          handles.put(name, new Handle(v, mtime, frame))
        frame
      }
    }

  /** The one schema every segment of `m` reads under: the schema its
    * manifest records (parquet fills columns missing from older
    * segments of an evolved table as null, and no segment re-infers
    * its partition-column types). A manifest written before every
    * publish recorded one falls back to the first segment's footer — a
    * one-task job, the store's only schema inference; the table's next
    * publish records the schema. */
  private def pinnedSchema(dirs: Seq[String], m: Manifest): StructType =
    m.schema.getOrElse(spark.read.parquet(dirs.head).schema)

  /** Every read is pinned to [[pinnedSchema]]: a flat table or one
    * segment reads as one scan, partitioned segments one scan each,
    * unioned by name. */
  private def readDirs(dirs: Seq[String], m: Manifest): DataFrame = {
    val read = spark.read.schema(pinnedSchema(dirs, m))
    if (dirs.length == 1 || m.partitionBy.isEmpty) read.parquet(dirs: _*)
    else dirs.map(read.parquet(_)).reduce(_.unionByName(_))
  }

  /** Change-data-feed between two versions — the rows a downstream
    * incremental consumer must apply to move its copy of `name` from
    * snapshot `fromV` to snapshot `toV`, each tagged `_op` ∈
    * insert|update|delete (Delta CDF / Iceberg changelog semantics;
    * delete rows carry the departed values). `key` must be a unique
    * key of the table — with duplicate keys "update" is ill-defined,
    * exactly the CDF precondition the production formats state.
    *
    * Scale shape: when `toV`'s manifest EXTENDS `fromV`'s (the
    * append-only chain appendUnique/append build), the diff reads ONLY
    * the delta segments — O(change), no join, regardless of table
    * size; a reader incrementally tailing a 100 TB append-only table
    * never rescans it. A rewriting transition between the two versions
    * (upsert/compact/replace resets the segment chain) falls back to a
    * keyed full-outer diff of the two snapshots with xxhash64 row
    * comparison — O(both snapshots), one shuffle each side, the
    * unavoidable general case. */
  def changesBetween(name: String, fromV: Int, toV: Int,
      key: Seq[String]): DataFrame = {
    require(fromV <= toV, s"fromV $fromV must be <= toV $toV")
    require(key.nonEmpty, "changesBetween needs a non-empty unique key")
    val Seq(from, to) =
      Seq(fromV, toV).map(v => readManifest(requireReadable(name, v)))
    if (to.extendsFrom(from)) {
      val delta = dirs(name, to.segments.drop(from.segments.length))
      if (delta.isEmpty) // identical manifests (e.g. self-diff)
        loadVersion(name, toV).limit(0).withColumn("_op", lit("insert"))
      else readDirs(delta, to).withColumn("_op", lit("insert"))
    }
    else {
      import org.apache.spark.sql.functions.{when, xxhash64}
      // presence markers, not key-IS-NULL probes: a legitimately NULL
      // key column must not masquerade as an absent join side
      val nRaw = loadVersion(name, toV)
      val cols = nRaw.columns.toSeq
      val oRaw = loadVersion(name, fromV)
      // align the old snapshot to the new schema (a column added by
      // evolution since fromV reads as null on the old side)
      val o = oRaw.select(cols.map(c =>
          if (oRaw.columns.contains(c)) col(c)
          else lit(null).cast(nRaw.schema(c).dataType).as(c)): _*)
        .withColumn("_o_present", lit(true)).alias("o")
      val n = nRaw.withColumn("_n_present", lit(true)).alias("n")
      val payload = cols.filterNot(key.contains)
      // interleave a presence marker per column: Spark's hash functions
      // SKIP null inputs without perturbing the accumulator, so
      // (x, null) and (null, x) in two same-typed columns would hash
      // identically and the update would vanish from the feed; the
      // non-null boolean marker keeps the streams distinct
      def rowHash(side: String) = // key-only tables carry no payload
        if (payload.isEmpty) lit(0L)
        else xxhash64(payload.flatMap(c =>
          Seq(col(s"$side.$c"), col(s"$side.$c").isNull)): _*)
      val joined = o.join(n,
        key.map(k => col(s"o.$k") <=> col(s"n.$k")).reduce(_ && _),
        "full_outer")
      val op = when(col("_o_present").isNull, lit("insert"))
        .when(col("_n_present").isNull, lit("delete"))
        .when(rowHash("o") =!= rowHash("n"), lit("update"))
      // side selection by PRESENCE, not per-column coalesce: an update
      // that legitimately NULLs a column must report the NULL (a
      // coalesce would resurrect the stale old value and a downstream
      // sync would replicate it); only delete rows carry old values
      joined
        .select(cols.map(c =>
          when(col("_n_present").isNotNull, col(s"n.$c"))
            .otherwise(col(s"o.$c")).as(c)) :+ op.as("_op"): _*)
        .filter(col("_op").isNotNull)
    }
  }

  // -- the single-table ops: each is a one-op commit ([[Commit]]) ------

  def init(name: String, df: DataFrame): Unit = replace(name, df)

  def replace(name: String, df: DataFrame,
      partitionBy: Seq[String] = Nil): Unit =
    commit(_.replace(name, df, partitionBy))

  def append(name: String, df: DataFrame,
      evolveSchema: Boolean = false): Unit =
    commit(_.append(name, df, evolveSchema))

  def appendUnique(name: String, df: DataFrame, key: Seq[String],
      tieBreak: Seq[Column] = Nil, evolveSchema: Boolean = false): Unit =
    commit(_.appendUnique(name, df, key, tieBreak, evolveSchema))

  def upsert(name: String, df: DataFrame, key: Seq[String]): Unit =
    commit(_.upsert(name, df, key))

  def compact(name: String, targetRowsPerFile: Long = 1L << 20): Unit =
    commit(_.compact(name, targetRowsPerFile))

  def deleteWhere(name: String, predicate: Column): Long =
    commit(_.deleteWhere(name, predicate))

  /** Run `body` as one commit (the contract is in the class doc) and
    * return its result once the commit is visible. `body` may run
    * twice: it must touch the store only through its handle, must not
    * wait on another thread's commit to this root (the re-run holds
    * the root lock), and must not `return` out of the closure. */
  def commit[A](body: Commit => A): A = {
    commits.incrementAndGet()
    def attempt(locked: Boolean): A = {
      val c = new Commit
      // None: a written table moved before the flip. A body that threw
      // because a table moved under it (say, a staged segment vacuumed)
      // conflicted too; any other throw is the body's own error.
      val out: Option[Either[Throwable, A]] =
        try { val a = body(c); Option.when(c.flip())(Right(a)) }
        catch { case NonFatal(e) => Some(Left(e)) }
        finally c.abortUnlessFlipped()
      out match {
        case Some(Right(a)) => c.settle(); a
        case Some(Left(e)) if locked || !c.invalidated => throw e
        case _ if !locked =>
          reruns.incrementAndGet()
          rootLock.synchronized(attempt(locked = true))
        case _ => throw new java.util.ConcurrentModificationException(
          s"commit on $root conflicted while holding the root lock " +
            s"(tables ${c.written.mkString(",")}): another process writes " +
            "this root, or the body commits outside its handle")
      }
    }
    attempt(locked = false)
  }

  private val commits = new java.util.concurrent.atomic.AtomicLong
  private val reruns = new java.util.concurrent.atomic.AtomicLong

  /** This instance's commit counts since it was created: commits run,
    * and those among them that conflicted and re-ran their body under
    * the root lock. */
  def commitCounts: TableStore.CommitCounts =
    TableStore.CommitCounts(commits.get, reruns.get)

  /** One commit's handle: the store as the body sees it, with its
    * reads pinned and its writes staged (see the class doc). Used by
    * one thread, for one attempt. */
  final class Commit private[TableStore] () {
    private val pinned = mutable.Map[String, Int]()
    private val staged = mutable.LinkedHashMap[String, Manifest]()
    private val seeds = mutable.Map[String, DataFrame]()
    private val reserved = mutable.ArrayBuffer[Path]()
    private val marks = mutable.LinkedHashMap[String, Long]()
    private var flipped = false

    /** The version of `name` this commit reads (−1 if absent), pinned
      * on first use. */
    def version(name: String): Int =
      pinned.getOrElseUpdate(name, TableStore.this.version(name))

    def exists(name: String): Boolean =
      staged.contains(name) || version(name) >= 0

    /** The table as this commit sees it: its staged writes, else the
      * pinned version. */
    def load(name: String): DataFrame = staged.get(name) match {
      case Some(m) => readDirs(dirs(name, m.segments), m)
      case None => loadVersion(name, version(name))
    }

    private def live(name: String): Option[Manifest] =
      staged.get(name).orElse(
        Option.when(version(name) >= 0)(manifest(name, version(name))))

    def partitionColumns(name: String): Seq[String] =
      live(name).map(_.partitionBy).getOrElse(Nil)

    /** Record `batchId` as `flow`'s last committed batch, visible with
      * this commit's tables ([[TableStore.lastCommitted]]). */
    def markBatch(flow: String, batchId: Long): Unit = marks(flow) = batchId

    private[TableStore] def written: Iterable[String] = staged.keys

    /** True iff a table this commit began to write has moved since it
      * pinned it, or a version it pinned is no longer readable: the
      * only ways a concurrent commit or vacuum can pull data out from
      * under the body. */
    private[TableStore] def invalidated: Boolean = {
      val now = pointer().tables
      reserved.map(_.getParent.getFileName.toString).exists(t =>
        now.getOrElse(t, -1) != version(t)) ||
        pinned.exists { case (t, v) => v >= 0 && !versionExists(t, v) }
    }

    /** Write `df` as a fresh segment of `name` named for the pinned
      * version + 1 (`tag` distinguishes several segments of one op);
      * the name is reserved atomically, so no two writers share it. */
    private def stage(name: String, df: DataFrame, partitionBy: Seq[String],
        tag: String = ""): String = {
      Files.createDirectories(tdir(name))
      val want = s"d${version(name) + 1}$tag"
      val seg = Iterator.from(0).map(k => if (k == 0) want else s"$want-$k")
        .find { n =>
          try { reserved += Files.createDirectory(tdir(name).resolve(n)); true }
          catch { case _: FileAlreadyExistsException => false }
        }.get
      val w = df.write.mode("append")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(tdir(name).resolve(seg).toString)
      seg
    }

    private def put(name: String, m: Manifest,
        seed: Option[DataFrame] = None): Unit = {
      staged(name) = m
      seed match {
        case Some(f) => seeds(name) = f
        case None => seeds -= name
      }
    }

    /** Publish a whole-table snapshot (mutating merges). `partitionBy`
      * lays the segment out as hive-style partition directories, so
      * reader filters on those columns become PartitionFilters and
      * prune whole directories from the scan (the layout the stored ANN
      * indexes use to make a probe O(probed partitions), not
      * O(corpus)). The layout is recorded in the manifest, so later
      * append()s write layout-compatible segments and the table keeps
      * pruning as it grows (incremental index maintenance). */
    def replace(name: String, df: DataFrame,
        partitionBy: Seq[String] = Nil): Unit = {
      val seg = stage(name, df, partitionBy)
      val (schema, typed) = segmentSchema(name, seg, df, partitionBy)
      put(name, Manifest(Seq(seg), partitionBy, Some(schema)), typed)
    }

    /** Append rows to an insert-only table (notifications, rejections,
      * growing stored indexes): writes ONLY the new rows as a segment;
      * compacts when the manifest is long. Creates the table on first
      * append (flat layout — use replace(partitionBy) to establish a
      * partitioned one). Appends into a partitioned table write
      * hive-partitioned segments matching the recorded layout, so
      * partition discovery and pruning keep working across segments.
      *
      * `evolveSchema = true` lets a batch ADD nullable columns (and
      * omit existing ones — filled as null): the table's live schema
      * becomes the union, recorded in the manifest so older segments
      * read under it with the new columns null — Delta `mergeSchema`
      * semantics. Retyping or any schema change without the flag is
      * rejected with a pointed error (the fixture-drift class the
      * schema-guard specs exist for), never silently coerced. */
    def append(name: String, df: DataFrame,
        evolveSchema: Boolean = false): Unit = live(name) match {
      case None => replace(name, df)
      case Some(m) =>
        val parts = m.partitionBy
        // a zero-row partitionBy write emits NO parquet files (only
        // _SUCCESS), a segment that adds nothing: skip empty appends
        // for partitioned tables (flat empty writes emit a part file,
        // so they keep the cheap path with no emptiness probe)
        if (parts.isEmpty || !df.isEmpty) {
          val cur = pinnedSchema(dirs(name, m.segments), m)
          val curTypes = cur.fields
            .map(f => f.name -> f.dataType.catalogString).toMap
          // Partition columns carry NO type on disk — the value is the
          // path string (cell=42/), and the recorded type is whatever
          // hive inference read back from those strings. A writer that
          // computed the value as bigint (or a numeric string) while
          // inference pinned int produces the IDENTICAL layout, so a
          // type mismatch there is not a retype; reads stay pinned to
          // the recorded schema either way. The exemption is not
          // type-BLIND though: every batch value must round-trip into
          // the recorded type, else the pinned read would silently
          // null it (cell=x7/ under a recorded int) — that stays a
          // loud failure. Data columns — whose parquet encoding DOES
          // carry the type — get the hard check.
          df.schema.fields
            .filter(f => curTypes.contains(f.name))
            .foreach { f =>
              val want = curTypes(f.name)
              val got = f.dataType.catalogString
              if (want != got) {
                require(parts.contains(f.name),
                  s"append to $name would RETYPE column ${f.name}: " +
                    s"table has $want, batch has $got — schema " +
                    "evolution only adds nullable columns")
                // round-trip through the STRING domain — the value the
                // partition path actually stores: a typed try_cast would
                // coerce (9.5 → int 9) while the path writes "9.5" and
                // the pinned read nulls it
                val bad = df.filter(col(f.name).isNotNull &&
                  col(f.name).cast("string").try_cast(want).isNull).count()
                require(bad == 0L,
                  s"append to $name: $bad value(s) of partition " +
                    s"column ${f.name} (batch type $got) do not parse " +
                    s"as the recorded type $want — the pinned read " +
                    "would null them; align the batch")
              }
            }
          val newCols = df.schema.fields
            .filterNot(f => curTypes.contains(f.name))
          val missing = cur.fieldNames
            .filterNot(df.schema.fieldNames.contains).toSeq
          require(evolveSchema || (newCols.isEmpty && missing.isEmpty),
            s"append to $name changes the schema (adds " +
              s"[${newCols.map(_.name).mkString(",")}], omits " +
              s"[${missing.mkString(",")}]) — pass " +
              "evolveSchema = true to evolve, or align the batch")
          // the table's schema after this append: `cur`, plus any added
          // columns; the batch is aligned to it, omitted columns null
          val schema = StructType(
            cur.fields ++ newCols.map(_.copy(nullable = true)))
          val aligned = df.select(schema.fields.toSeq.map(f =>
            if (df.columns.contains(f.name)) col(f.name)
            else lit(null).cast(f.dataType).as(f.name)): _*)
          if (m.segments.length >= CompactThreshold)
            replace(name, load(name).unionByName(aligned,
              allowMissingColumns = true), parts)
          else put(name, Manifest(m.segments :+ stage(name, aligned, parts),
            parts, Some(schema)))
        }
    }

    /** Idempotent append: rows whose `key` already exists are dropped,
      * so a redelivered batch cannot double-append (the append-only
      * analogue of the key-idempotent MERGEs). In-batch duplicates
      * collapse to the first row by `tieBreak` ordering (arbitrary when
      * empty). Write cost is O(new rows); the existing table is only
      * READ for the anti-join. */
    def appendUnique(name: String, df: DataFrame, key: Seq[String],
        tieBreak: Seq[Column] = Nil, evolveSchema: Boolean = false): Unit = {
      val dedup = MergeOps.dedupBy(df, key, tieBreak)
      if (!exists(name)) replace(name, dedup)
      else {
        // persist: the emptiness probe AND the segment write both
        // consume this plan — unpersisted, the dedup + anti-join (and
        // the table read under it) would execute twice per append
        val fresh = dedup.join(load(name).select(key.map(col): _*),
          key, "left_anti").persist()
        try {
          // skip empty appends entirely: no segment, no version churn
          if (!fresh.isEmpty) append(name, fresh, evolveSchema)
        } finally fresh.unpersist()
      }
    }

    /** Key-replacing MERGE: rows of `df` SUPERSEDE existing rows with
      * the same `key`; all other rows are kept (in-batch duplicates
      * collapse arbitrarily). Unlike [[appendUnique]] the incoming row
      * wins — the re-verdict path for tables whose rows can
      * legitimately be corrected (a quality-rejected document re-sent
      * with fixed content). Cost is a full snapshot rewrite — O(table),
      * the same order as the derived-table recomputes that accompany it
      * on the ingest path; the production swap is a Delta/Iceberg MERGE
      * with file-level pruning. */
    def upsert(name: String, df: DataFrame, key: Seq[String]): Unit = {
      val dedup = df.dropDuplicates(key)
      if (!exists(name)) replace(name, dedup)
      else {
        val kept = load(name).join(dedup.select(key.map(col): _*),
          key, "left_anti")
        replace(name, kept.unionByName(dedup), partitionColumns(name))
      }
    }

    /** OPTIMIZE — small-file compaction. Rewrites the table as ONE
      * segment of ~`targetRowsPerFile`-row files (per partition
      * directory for partitioned layouts, with rows clustered so each
      * directory is written by as few tasks as hold its rows). The
      * append path bounds SEGMENT count (manifest length) but not file
      * count or size — a streaming flow committing small batches
      * accretes many tiny files, and at 100 TB tiny files are the
      * classic scan killer (per-file open/footer cost dominates;
      * row-group pruning loses leverage). Content is byte-identical by
      * construction (same rows, fresh layout); superseded versions age
      * out via the usual vacuum horizon. The production swap is Delta
      * OPTIMIZE / Iceberg rewrite_data_files. Cost: one full read +
      * write of the table — schedule off-peak like any OPTIMIZE. */
    def compact(name: String, targetRowsPerFile: Long = 1L << 20): Unit = {
      require(exists(name), s"table $name does not exist")
      require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
      val parts = partitionColumns(name)
      val df = load(name)
      val rows = df.count()
      val nFiles = math.max(1L,
        (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      val shaped =
        if (parts.isEmpty) df.repartition(nFiles)
        else df.repartition(nFiles, parts.map(col): _*)
      replace(name, shaped, parts)
    }

    /** Targeted row deletion — `DELETE FROM name WHERE predicate`, the
      * third mutation class next to append and upsert (the reference
      * never deletes — README.md:47 — but a data-governance request,
      * GDPR erasure being the canonical one, needs it as a first-class
      * table op). Returns the number of rows deleted.
      *
      * Scale shape (the Delta/Iceberg copy-on-write DELETE): the
      * predicate is evaluated PER SEGMENT, and only segments that
      * actually contain matches are rewritten — the match probe is a
      * predicate-pushed count whose parquet min/max row-group stats let
      * untouched segments answer from footers, so a targeted delete on
      * a 100 TB table rewrites O(affected segments), not O(table).
      * Untouched segment directories are carried into the new manifest
      * byte-identical. SQL DELETE semantics: rows where the predicate
      * is NULL survive. A segment whose every row matches is DROPPED
      * from the manifest rather than rewritten (a zero-row partitioned
      * write emits no readable files). No-match deletes publish nothing
      * (version unchanged). Prior versions still time-travel to the
      * deleted rows until vacuumed, and `changesBetween` across the
      * delete reports them as `_op = delete` via its rewriting-
      * transition diff. If a delete empties the table entirely, an
      * empty FLAT segment with the full recorded schema is published
      * (the partition layout carries no information at zero rows; the
      * next replace re-establishes it). */
    def deleteWhere(name: String, predicate: Column): Long = {
      require(exists(name), s"table $name does not exist")
      val m = live(name).get
      val parts = m.partitionBy
      val segs = m.segments
      val segDirs = dirs(name, segs)
      // one schema across segments, the rule readDirs reads under
      val pinnedAs = pinnedSchema(segDirs, m)
      val matches = org.apache.spark.sql.functions
        .coalesce(predicate, lit(false))
      var deleted = 0L
      val rewritten = segs.zip(segDirs).zipWithIndex.flatMap {
        case ((seg, dir), i) =>
          val sdf = spark.read.schema(pinnedAs).parquet(dir)
          val hits = sdf.filter(matches).count()
          if (hits == 0L) Some(seg) // untouched — carried as-is
          else {
            deleted += hits
            val kept = sdf.filter(!matches)
            if (kept.isEmpty) None // fully-deleted segment: drop
            else Some(stage(name, kept, parts, s"_$i"))
          }
      }
      if (deleted > 0L) {
        if (rewritten.nonEmpty)
          put(name, Manifest(rewritten, parts, Some(pinnedAs)))
        else {
          // table emptied: one empty flat segment carrying the full
          // schema (partition columns become ordinary columns)
          val empty = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], pinnedAs)
          put(name, Manifest(Seq(stage(name, empty, Nil)), Nil, Some(pinnedAs)))
        }
      }
      deleted
    }

    /** Make this commit visible, or report a conflict (false). Under
      * the root lock: check that no written table has moved, write each
      * written table's manifest (over any orphan a failed flip left),
      * then replace the pointer in one atomic move. */
    private[TableStore] def flip(): Boolean = rootLock.synchronized {
      val now = pointer()
      val ok = staged.keys.forall(t => now.tables.getOrElse(t, -1) == version(t))
      if (ok && (staged.nonEmpty || marks.nonEmpty)) {
        staged.foreach { case (t, m) =>
          Files.write(manifestPath(t, version(t) + 1), m.render.getBytes(UTF_8))
        }
        val tmp = rootPath.resolve("_pointer_tmp")
        Files.write(tmp, Pointer(
          now.tables ++ staged.keys.map(t => t -> (version(t) + 1)),
          now.flows ++ marks).render.getBytes(UTF_8))
        Files.move(tmp, pointerPath, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        flipped = true
      }
      ok
    }

    /** Delete this attempt's staged segments unless it flipped: under
      * the root lock, and only those a vacuum has not reclaimed since
      * their table moved. */
    private[TableStore] def abortUnlessFlipped(): Unit =
      if (!flipped) rootLock.synchronized {
        reserved.filter(Files.exists(_)).foreach(deleteRecursively)
      }

    /** After the flip: drop the written tables' handles (seeding the
      * ones whose segment typing already resolved the new version) and
      * run the always-on retention GC, which only fires once the
      * horizon is behind us, so young tables pay nothing. */
    private[TableStore] def settle(): Unit = rootLock.synchronized {
      staged.keys.foreach { t =>
        val v = version(t) + 1
        handles.remove(t)
        if (TableStore.this.version(t) == v) seeds.get(t).foreach(f =>
          handles.put(t, new Handle(v,
            Files.getLastModifiedTime(manifestPath(t, v)), f)))
        if (autoVacuumKeep > 0 && v >= autoVacuumKeep) vacuum(t, autoVacuumKeep)
      }
    }
  }

  /** True iff the transition `fromV` → current is append-only (pure
    * inserts, readable from the delta segments alone) — the probe an
    * incremental view maintainer uses to choose between a delta fold
    * and a full resync (false also when `fromV` has been vacuumed). */
  def appendOnlySince(name: String, fromV: Int): Boolean =
    versionExists(name, fromV) &&
      manifest(name, version(name)).extendsFrom(manifest(name, fromV))

  /** Incremental replication: bring `dst` (hosted by this store) up to
    * `src`'s current snapshot by applying the version diff since the
    * last sync — the CDC CONSUMER side of [[changesBetween]], the
    * downstream-materialization pattern (Delta CDF reader feeding a
    * derived table). Returns the src version synced to.
    *
    * Cost: an append-only hop appends O(delta); a
    * rewriting hop applies changed-key anti-join + union —
    * O(dst + change), never O(history). The replica and its cursor
    * (the src version it holds, kept as the batch id of flow
    * `_sync_<src>__<dst>`) land in one commit. A sync whose base
    * version has been vacuumed falls back to one full resync and is
    * caught up from there on. `key` must be a unique key of `src`, as
    * in [[changesBetween]]. */
  def syncTo(src: String, dst: String, key: Seq[String]): Int = commit { c =>
    val flow = s"_sync_${src}__$dst"
    val cur = c.version(src)
    require(cur >= 0, s"table $src does not exist")
    val last = lastCommitted(flow).toInt
    if (!c.exists(dst) || last != cur) {
      // first sync, or a base version aged out of the vacuum horizon →
      // one full resync
      if (!c.exists(dst) || !versionExists(src, last))
        c.replace(dst, c.load(src), c.partitionColumns(src))
      else if (manifest(src, cur).extendsFrom(manifest(src, last)))
        // evolveSchema: an evolved source's delta legitimately carries
        // columns dst has not seen yet — replication must follow the
        // evolution, not reject it
        c.append(dst, changesBetween(src, last, cur, key).drop("_op"),
          evolveSchema = true)
      else {
        val changes = changesBetween(src, last, cur, key).persist()
        try {
          val changedKeys = changes.select(key.map(col): _*)
          val kept = c.load(dst).join(changedKeys, key, "left_anti")
          val upserts = changes.filter(col("_op") =!= "delete").drop("_op")
          // allowMissingColumns: dst may predate src's schema evolution
          c.replace(dst, kept.unionByName(upserts, allowMissingColumns = true),
            c.partitionColumns(dst))
        } finally changes.unpersist()
      }
      c.markBatch(flow, cur)
    }
    cur
  }

  /** VACUUM — retention-horizon GC of superseded versions. Keeps the
    * newest `keepVersions` manifests (the current one always included)
    * and every segment any kept manifest references; deletes older
    * manifests and now-unreferenced segment directories.
    *
    * Reader-snapshot contract: a DataFrame bound to any version inside
    * the horizon stays fully readable (its segments are all referenced
    * by a kept manifest — appends only ever EXTEND the previous segment
    * list, so a newer manifest covers every older one back to the last
    * replace). Readers bound to versions OUTSIDE the horizon lose their
    * files — the same contract as Delta/Iceberg VACUUM, where the
    * retention period must exceed the longest-running reader.
    *
    * A segment named for a version above the current one is staged by
    * a commit in flight and is never reclaimed. A staged segment can
    * only become unreferenced-and-reclaimable after its table has moved
    * past the version it was staged for, and then its commit conflicts
    * and never publishes it. Vacuum runs under the root lock, so it
    * never interleaves with a flip.
    *
    * Without this, a long-running deployment leaks storage linearly in
    * commits (every replace() retires a whole snapshot segment). Flows
    * call it on whatever cadence suits the table's churn. */
  def vacuum(name: String, keepVersions: Int = 2): Unit =
    rootLock.synchronized {
      val cur = version(name)
      require(cur >= 0, s"table $name does not exist")
      require(keepVersions >= 1, "must keep at least the current version")
      val floor = math.max(0, cur - keepVersions + 1)
      val live = (floor to cur).flatMap(v => manifest(name, v).segments).toSet
      def number(n: String) = n.drop(1).takeWhile(_.isDigit).toIntOption
      val stream = Files.list(tdir(name))
      try {
        stream.forEach { p =>
          val n = p.getFileName.toString
          val staleManifest = n.startsWith("m") &&
            n.drop(1).forall(_.isDigit) && n.drop(1).toInt < floor
          val staleSegment = Files.isDirectory(p) && !live.contains(n) &&
            !number(n).exists(_ > cur)
          if (staleManifest) Files.delete(p)
          else if (staleSegment) deleteRecursively(p)
        }
      } finally stream.close()
    }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(deleteRecursively) finally s.close()
    }
    Files.delete(p)
  }

  /** The last batch id a commit marked for `flow` (−1 if none) — the
    * skip check of a replayed micro-batch, the library-level
    * equivalent of Delta's txn-id dedup. */
  def lastCommitted(flow: String): Long = pointer().flows.getOrElse(flow, -1L)
}

object TableStore {

  final case class CommitCounts(commits: Long, reruns: Long)

  private val rootLocks = new ConcurrentHashMap[Path, Object]()

  private def lockFor(root: Path): Object =
    rootLocks.computeIfAbsent(root, _ => new Object)

  /** The store pointer, the file `root/_pointer`: one line per table,
    * `table\t<name>\t<live version>`, then one per flow,
    * `flow\t<name>\t<last committed batch id>`, each group sorted by
    * name and joined by `\n`. A commit replaces the whole file in one
    * atomic move. Parsed here and rendered here only; a line the parser
    * does not know fails the read. */
  private final case class Pointer(tables: Map[String, Int],
      flows: Map[String, Long]) {
    def render: String =
      (tables.toSeq.sorted.map { case (t, v) => s"table\t$t\t$v" } ++
        flows.toSeq.sorted.map { case (f, b) => s"flow\t$f\t$b" })
        .mkString("\n")
  }

  private object Pointer {
    def parse(text: String, where: String): Pointer =
      text.split("\n").iterator.filter(_.nonEmpty)
        .foldLeft(Pointer(Map.empty, Map.empty)) { (p, line) =>
          line.split("\t", -1) match {
            case Array("table", t, v) => p.copy(tables = p.tables + (t -> v.toInt))
            case Array("flow", f, b) => p.copy(flows = p.flows + (f -> b.toLong))
            case _ => throw new IllegalStateException(
              s"store pointer $where has an unknown line: $line")
          }
        }
  }

  /** One version's manifest, the file `root/<table>/m<N>`: header lines,
    * then one segment dir per line, joined by `\n` with no trailing
    * newline. The headers, in this order and each at most once:
    *
    *  - `#partitionBy=c1,c2` — the hive layout every segment is written
    *    in (lets append write layout-compatible segments); absent for a
    *    flat table;
    *  - `#schema=<StructType JSON>` — the schema every segment reads
    *    under (columns an evolved table added read as null in its older
    *    segments). Every publish writes it, so no read infers a schema;
    *    a manifest written before that has none, and only
    *    `TableStore.pinnedSchema` falls back to a footer for it.
    *
    * Parsed here and rendered here only; a header line the parser does
    * not know fails the read rather than being dropped or carried. */
  private final case class Manifest(segments: Seq[String],
      partitionBy: Seq[String] = Nil, schema: Option[StructType] = None) {

    /** True iff this manifest EXTENDS `from`'s segment list — the
      * append-only chain whose version diff is pure inserts readable
      * from the delta segments alone. */
    def extendsFrom(from: Manifest): Boolean =
      segments.startsWith(from.segments)

    def render: String =
      (Option.when(partitionBy.nonEmpty)(partitionBy.mkString(","))
          .map("#partitionBy=" + _) ++
        schema.map("#schema=" + _.json) ++
        segments).mkString("\n")
  }

  private object Manifest {
    def parse(text: String, where: String): Manifest =
      text.split("\n").iterator.filter(_.nonEmpty)
        .foldLeft(Manifest(Vector.empty)) { (m, line) =>
          def value(h: String) = Option.when(line.startsWith(h))(line.drop(h.length))
          value("#partitionBy=").map(v =>
              m.copy(partitionBy = v.split(",").toSeq.filter(_.nonEmpty)))
            .orElse(value("#schema=").map(v => m.copy(schema =
              Some(DataType.fromJson(v).asInstanceOf[StructType]))))
            .getOrElse {
              if (line.startsWith("#")) throw new IllegalStateException(
                s"manifest $where has an unknown header: $line")
              m.copy(segments = m.segments :+ line)
            }
        }
  }
}
