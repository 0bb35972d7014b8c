package graft.store

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch

/** Versioned copy-on-write parquet store: the engine's answer to the
  * reference's mutable MongoDB collections (S4-S7, TX1;
  * MongoDbService.cs:241-439, :563-613) on an immutable file format.
  *
  * Layout per table:
  * {{{
  *   <root>/<table>/data/v<N>/<part>/...parquet   physical segments
  *   <root>/<table>/_versions/v<N>.manifest       partition -> segment dir(s)
  *   <root>/<table>/_CURRENT                      current version number
  * }}}
  *
  * Every mutation commits a NEW manifest that reuses the segment dirs of
  * untouched partitions and points touched partitions at freshly written
  * dirs — so an upsert of one session rewrites one partition, not 100 TB.
  * The commit is the TX1 transaction with OPTIMISTIC CONCURRENCY
  * (the reference's TX1 is a real Mongo transaction,
  * MongoDbService.cs:563-592): every mutation records the version it
  * read, writes its segments under an attempt-unique directory, and then
  * claims its target epoch by an atomic no-overwrite directory rename
  * (`v<N>.claim`) — the rename is the compare-and-swap, so of two racing
  * committers exactly one owns `v+1`. The loser deletes its orphan
  * segments and throws ConcurrentModificationException (fail loudly,
  * never lose a mutation silently). The winner then swaps `_CURRENT`
  * atomically (write temp + rename with Options.Rename.OVERWRITE);
  * readers see the old version until the swap, and a crash mid-write
  * leaves garbage segments but a consistent table.
  *
  * Every mutation takes ONE rewrite path. It reads one [[Snapshot]]
  * (base version, manifest, partition layout, committed schema) and
  * takes every later decision from it. It locates the partitions it
  * must rewrite ([[victims]]), then runs [[rewrite]]: read those
  * partitions, apply the mutation's transform, write new segments, and
  * commit `(manifest -- touched) ++ written`. The rewrite has two
  * executors that share the snapshot, the partition-key function, the
  * driver-local segment writer and the commit:
  *  - Spark: the transform is a DataFrame plan, written by
  *    [[writeSegments]];
  *  - the driver: tiny keyed upserts into kB-sized partitions merge
  *    rows in memory ([[localUpsert]]), written by parquet-mr.
  * [[append]] adds segments instead of rewriting, and
  * [[create]]/[[repartitionBy]] write a whole new layout; both commit
  * through the same CAS.
  *
  * All metadata IO goes through the Hadoop FileSystem API (resolved from
  * the root path's scheme), so the store works unchanged on local disk,
  * HDFS, or any object store with a Hadoop connector — the same contract
  * the IVF sidecar uses (IvfIndex.writeSidecar). Rename-atomicity is the
  * storage layer's: real on HDFS/local posix; on S3-like stores the
  * single-writer contract carries the guarantee instead.
  */
class DocumentStore(val spark: SparkSession, root: String) {

  private val hconf = spark.sessionState.newHadoopConf()
  private val fs: FileSystem = new HPath(root).getFileSystem(hconf)
  private val rootPath: HPath = fs.makeQualified(new HPath(root))
  // FileContext provides rename-with-overwrite (FileSystem.rename refuses
  // an existing destination on HDFS) — the ATOMIC_MOVE analog.
  private lazy val fc: FileContext = FileContext.getFileContext(rootPath.toUri, hconf)

  private def tdir(table: String): HPath = new HPath(rootPath, table)

  /** Qualified table directory — where index sidecars that travel with
    * a table (e.g. [[graft.search.ServePoint]]) live. */
  def tablePath(table: String): String = tdir(table).toString

  private def readString(p: HPath): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in),
        StandardCharsets.UTF_8))
      finally in.close()
    }

  private def writeString(p: HPath, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def currentVersion(table: String): Int =
    readString(new HPath(tdir(table), "_CURRENT")).map(_.trim.toInt).getOrElse(0)

  /** A manifest VALUE is one segment dir — or several, comma-joined:
    * [[append]] grows a partition by ADDING a segment instead of
    * rewriting it, and any rewriting mutation (upsert/delete/compact)
    * collapses the partition back to one dir. Dir names are
    * store-generated (`data/v<N>-<token>/__part=K`), so the separator
    * can never appear inside one. */
  private def splitDirs(v: String): Seq[String] = v.split(',').toSeq

  /** Every physical segment dir a manifest references. */
  private def dirsOf(m: Map[String, String]): Seq[String] =
    m.values.flatMap(splitDirs).toSeq

  /** A per-version metadata file under `_versions`. */
  private def versionFile(table: String, name: String): HPath =
    new HPath(new HPath(tdir(table), "_versions"), name)

  private[store] def manifest(table: String, v: Int): Map[String, String] = {
    if (v == 0) return Map.empty // table never created
    val f = versionFile(table, s"v$v.manifest")
    // a committed version MUST have its manifest: reading a corrupted
    // table (_CURRENT pointing at a missing manifest) as empty would
    // silently turn data loss into an empty-table answer
    val body = readString(f).getOrElse(throw new IllegalStateException(
      s"table '$table' is corrupted: _CURRENT points at version $v but $f is missing"))
    body.split("\n").iterator
      .filter(_.nonEmpty).map { l =>
        val Array(k, dir) = l.split("\t", 2); k -> dir
      }.toMap
  }

  /** One immutable view of a table at one committed version: its
    * manifest, partition layout and committed schema. Each mutation
    * reads ONE snapshot and takes every decision from it — victim
    * location, segment write, commit and the sidecar refresh — so no
    * step can see another version's layout (a layout read at a
    * different moment than the manifest is how stats came to be keyed
    * by a replaced partition column). All fields are read by version
    * number from immutable files, so the view cannot tear. */
  private case class Snapshot(table: String, version: Int,
                              manifest: Map[String, String],
                              layout: Option[String],
                              schema: Option[StructType]) {
    def next: Int = version + 1

    /** Segment dirs of the named partitions. */
    def dirs(parts: Set[String]): Seq[String] =
      dirsOf(manifest.filter { case (k, _) => parts.contains(k) })

    /** The schema of the rows the table holds: none when it holds no
      * partition; else the committed schema or, for a table written
      * before schema tracking, the one parquet infers. */
    lazy val tableSchema: Option[StructType] =
      if (manifest.isEmpty) None
      else schema.orElse(Some(readDirs(None, dirsOf(manifest)).schema))
  }

  private def snapshot(table: String, v: Int): Snapshot =
    Snapshot(table, v, manifest(table, v), partColAt(table, v), schemaOf(table, v))

  private def snapshot(table: String): Snapshot = snapshot(table, currentVersion(table))

  /** Commit `m` by version numbers: `v` must be `base + 1`. */
  private[store] def commit(table: String, base: Int, v: Int, m: Map[String, String],
                            schemaJson: Option[String]): Unit = {
    require(v == base + 1, s"commit must target base+1 (got base=$base v=$v)")
    commit(snapshot(table, base), m, schemaJson)
  }

  /** Commit manifest `m` as version `s.next`, with `s` the snapshot
    * this mutation READ. The epoch claim is a DIRECTORY rename
    * without overwrite (`.claim-v<N>-<token>` → `v<N>.claim`) — the CAS
    * primitive: POSIX rename atomically refuses a non-empty destination
    * directory (the marker file inside guarantees non-emptiness), and
    * HDFS refuses any existing destination at the namenode, so of two
    * racing committers exactly one owns epoch `v`. (A FILE rename is
    * NOT a CAS on local filesystems: POSIX rename overwrites files
    * silently.) Only the claim winner writes `v$v.manifest` and swaps
    * `_CURRENT`. A losing committer deletes its own just-written
    * segment dirs (the entries of `m` not carried from the base
    * manifest) and fails loudly; it never publishes, so no mutation
    * epoch is silently lost. Crash debris (a claimed epoch whose
    * `_CURRENT` swap never happened) blocks the epoch until [[vacuum]]
    * clears it — commit NEVER clears a claim itself, because a claim it
    * cannot distinguish from debris may belong to a live committer
    * between claim and swap.
    *
    * @param layout Some(newLayout) when this commit CHANGES the
    *   partition column (create/repartitionBy); None carries the base
    *   snapshot's layout forward. The effective layout is published as
    *   `v<N>.partcol` under the SAME claim protection as the manifest,
    *   so a layout change and its data always become visible in one
    *   atomic swap — a table-level pointer alone would leave a crash
    *   window where pruned reads consult the new column against an
    *   old-layout manifest (silently empty results). The stats and
    *   Bloom refresh key the rewritten partitions by that same layout. */
  private def commit(s: Snapshot, m: Map[String, String], schemaJson: Option[String],
                     layout: Option[Option[String]] = None): Unit = {
    val table = s.table; val v = s.next
    val vd = new HPath(tdir(table), "_versions"); fs.mkdirs(vd)
    val token = java.util.UUID.randomUUID().toString
    val claimDir = new HPath(vd, s"v$v.claim")
    val tmpDir = new HPath(vd, s".claim-v$v-$token")
    fs.mkdirs(tmpDir)
    writeString(new HPath(tmpDir, "owner"), token) // non-empty: un-replaceable
    def claim(): Boolean =
      try { fc.rename(tmpDir, claimDir); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.io.IOException if fs.exists(claimDir) => false
      }
    val owned = claim()
    // NOTE deliberately NO automatic debris-clearing here: a claim that
    // exists while _CURRENT < v could be a crashed commit's debris — or
    // a LIVE committer between its claim and its swap. Guessing "debris"
    // and clearing it would silently destroy the live committer's epoch
    // (the exact lost-update this CAS exists to prevent). Crash debris
    // is cleared by [[vacuum]], which runs with no writers in flight.
    if (!owned) {
      // lost the race: drop the segment dirs this attempt wrote (the
      // manifest entries not carried over from the base version)
      fs.delete(tmpDir, true)
      val carried = dirsOf(s.manifest).toSet
      dirsOf(m).toSet.diff(carried).foreach { dir =>
        val p = new HPath(dir)
        if (fs.exists(p)) fs.delete(p, true)
      }
      throw new java.util.ConcurrentModificationException(
        s"concurrent commit on table '$table': read version ${s.version} but epoch $v " +
          s"was claimed by another writer; mutation NOT applied (segments cleaned). " +
          s"If no writer is live, the claim is crash debris — run vacuum to clear it")
    }
    val body = m.toSeq.sorted.map { case (k, d) => s"$k\t$d" }.mkString("\n")
    writeString(new HPath(vd, s"v$v.manifest"), body)
    schemaJson.foreach(js => writeString(new HPath(vd, s"v$v.schema"), js))
    // layout rides with the version (carry-forward when unchanged), so
    // every committed version knows its own partition column
    val after = Snapshot(table, v, m, layout.getOrElse(s.layout), schemaJson.map(parseSchema))
    writeString(new HPath(vd, s"v$v.partcol"), after.layout.getOrElse(""))
    graft.tools.Timing(s"commit-stats-$table")(refreshStats(s, after))
    graft.tools.Timing(s"commit-blooms-$table")(refreshBlooms(s, after))
    val tmp = new HPath(tdir(table), s"_CURRENT.tmp$v")
    writeString(tmp, v.toString)
    fc.rename(tmp, new HPath(tdir(table), "_CURRENT"), Options.Rename.OVERWRITE)
  }

  /** Characters a partition value may not carry into a directory name;
    * each is replaced by `_`, on the Spark side ([[partExpr]]) and on
    * the driver side ([[safeKey]]) alike. */
  private val UnsafeKeyChars = "[^A-Za-z0-9_\\-]"

  /** The partition key expression: user column, or a single bucket for
    * unpartitioned tables. Values are directory-name-safe strings. */
  private def partExpr(partitionCol: Option[String]): Column = partitionCol match {
    case Some(c) => regexp_replace(coalesce(col(c).cast("string"), lit("__null")),
      UnsafeKeyChars, "_")
    case None => lit("all")
  }

  /** Driver-side [[partExpr]] sanitiser for a partition value already in
    * string form (caller-supplied partition hints, driver-local rows). */
  private def safeKey(value: String): String = value.replaceAll(UnsafeKeyChars, "_")

  /** Distinct partition keys of `df`'s rows under layout `pc` — one Spark job. */
  private def partKeys(df: DataFrame, pc: Option[String]): Set[String] =
    df.select(partExpr(pc).as("__part")).distinct()
      .collect().map(_.getString(0)).toSet

  /** Victim location: the partitions among `among` that hold a row whose
    * `keys` tuple appears in `probe`. When the layout column is one of
    * the keys, a matching row can only live in the probe's own
    * partitions, so those are the answer with no table scan; otherwise
    * a column-pruned left-semi key scan over `among` finds them. */
  private def victims(s: Snapshot, probe: DataFrame, keys: Seq[String],
                      among: Map[String, String]): Set[String] =
    if (s.layout.exists(keys.contains)) partKeys(probe, s.layout)
    else if (among.isEmpty) Set.empty
    else partKeys(readDirs(s.schema, dirsOf(among))
      .join(probe.select(keys.map(col): _*).distinct(), keys, "left_semi"), s.layout)

  /** The copy-on-write rewrite every keyed and predicate mutation runs:
    * read the `touched` partitions of `s` (or, when none exist yet, an
    * empty frame of the table's schema — of `shape` when the table
    * holds no partition), apply `transform`, write the result as new
    * segments, and commit `(manifest -- touched) ++ written`. Every
    * other partition is carried by manifest reference. [[localUpsert]]
    * is the same rewrite executed on the driver. */
  private def rewrite(s: Snapshot, touched: Set[String], sortBy: Seq[String] = Nil,
                      shape: StructType = StructType(Nil))
                     (transform: DataFrame => DataFrame): Unit = {
    val dirs = s.dirs(touched)
    // an empty LOCAL relation, so the optimizer drops whatever the
    // transform joins against it instead of running that join
    val cur =
      if (dirs.nonEmpty) readDirs(s.schema, dirs)
      else spark.createDataFrame(java.util.Collections.emptyList[Row](),
        s.tableSchema.getOrElse(shape))
    commitRewrite(s, touched, writeSegments(s.table, transform(cur), s.next, s.layout, sortBy))
  }

  /** The commit both rewrite executors end with. */
  private def commitRewrite(s: Snapshot, touched: Set[String],
                            written: (Map[String, String], String)): Unit =
    commit(s, (s.manifest -- touched) ++ written._1, Some(written._2))

  /** Rows of a LocalRelation-rooted plan (unwrapping repartition/coalesce
    * wrappers), when at most `maxRows` — the driver-local write fast
    * path's gate. None for anything distributed: this must NEVER pull
    * computed data to the driver, only recognize data already there. */
  private def localTinyRows(df: DataFrame, maxRows: Int = 10000): Option[Seq[Row]] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Repartition, RepartitionByExpression}
    @annotation.tailrec
    def unwrap(p: LogicalPlan): LogicalPlan = p match {
      case r: Repartition => unwrap(r.child)
      case r: RepartitionByExpression => unwrap(r.child)
      case other => other
    }
    unwrap(df.queryExecution.optimizedPlan) match {
      case lr: LocalRelation if lr.data.lengthCompare(maxRows) <= 0 =>
        Some(df.collect().toSeq)
      case _ => None
    }
  }

  /** Driver-side replica of [[partExpr]] for the atomic types whose
    * JVM toString equals Spark's string cast. None = partition type not
    * safely replicable, caller falls back to the Spark write. */
  private def localPartKey(partitionCol: Option[String],
                           schema: StructType): Option[Row => String] =
    partitionCol match {
      case None => Some(_ => "all")
      case Some(c) =>
        val idx = schema.fieldIndex(c)
        schema(idx).dataType match {
          case StringType | IntegerType | LongType | BooleanType =>
            Some(r => if (r.isNullAt(idx)) "__null" else safeKey(r.get(idx).toString))
          case _ => None
        }
    }

  /** A fresh attempt-unique segment dir for version `v`, and its token. */
  private def attemptDir(table: String, v: Int): (HPath, String) = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    (new HPath(new HPath(tdir(table), "data"), s"v$v-$token"), token)
  }

  /** The driver-local segment writer: `rows` grouped by `keyFn`, one
    * parquet-mr file per partition dir. */
  private def writeLocal(table: String, v: Int, schema: StructType, rows: Seq[Row],
                         keyFn: Row => String): Map[String, String] = {
    val (out, token) = attemptDir(table, v)
    rows.groupBy(keyFn).map { case (k, rs) =>
      val dir = new HPath(out, s"__part=$k")
      fs.mkdirs(dir)
      LocalParquet.write(hconf, new HPath(dir, s"part-00000-$token.parquet"), schema, rs)
      k -> dir.toString
    }
  }

  /** Write `df`'s segments under an ATTEMPT-UNIQUE directory
    * (`data/v<N>-<token>`): two optimistic committers racing toward the
    * same epoch must never share a physical dir, or the loser's write
    * would clobber the winner's data before the CAS even runs. Returns
    * the partition→dir map plus the schema JSON for the commit to
    * publish — the version's logical schema rides next to its manifest
    * so reads NEVER infer (or merge) schemas from data files: at 100 TB
    * footer sniffing across segment dirs is an IO pass of its own, and
    * schema evolution (upsert adding a column) would otherwise depend
    * on which segment the reader lists first. */
  private[store] def writeSegments(table: String, df: DataFrame, v: Int,
                            partitionCol: Option[String],
                            sortBy: Seq[String] = Nil): (Map[String, String], String) = {
    // METADATA-SCALE FAST PATH (guide §5): a tiny frame already on the
    // driver (1-row meta tables, a chat session row) does not need a
    // Spark write job — plan+schedule+commit cost ~200-900 ms per call
    // where parquet-mr writes the same file in ~10 ms. Strictly gated:
    // rows must be a LocalRelation (never collects computed data),
    // atomic types only, no sortBy, replicable partition key.
    if (sortBy.isEmpty && LocalParquet.supports(df.schema))
      for (keyFn <- localPartKey(partitionCol, df.schema); rows <- localTinyRows(df))
        return (writeLocal(table, v, df.schema, rows, keyFn), df.schema.json)
    val (out, _) = attemptDir(table, v)
    val keyed = df.withColumn("__part", partExpr(partitionCol))
    // the dynamic-partition writer sorts each task by __part (unstably)
    // unless the incoming ordering already leads with it — so clustering
    // must be expressed as (__part, sortBy...) HERE, where the writer
    // recognizes the prefix and skips its own sort
    val prepared =
      if (sortBy.isEmpty) keyed
      else keyed.sortWithinPartitions(col("__part") +: sortBy.map(col): _*)
    graft.tools.Timing(s"ws-$table")(
      prepared.write.mode("overwrite").partitionBy("__part").parquet(out.toString))
    val parts = fs.listStatus(out).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("__part="))
      .map { st =>
        val key = st.getPath.getName.stripPrefix("__part=")
        key -> st.getPath.toString
      }.toMap
    (parts, df.schema.json)
  }

  /** A committed schema file's body as the logical schema (minus the
    * physical `__part` layout column). */
  private def parseSchema(json: String): StructType =
    StructType(DataType.fromJson(json).asInstanceOf[StructType].filterNot(_.name == "__part"))

  /** The committed logical schema of version `v`. None for tables
    * written before schema tracking — readers then fall back to parquet
    * inference. */
  private def schemaOf(table: String, v: Int): Option[StructType] =
    readString(versionFile(table, s"v$v.schema")).map(parseSchema)

  /** Read segment dirs under a committed schema: old files missing a
    * later-added column yield nulls (standard parquet column clipping),
    * and no footer is ever opened for schema discovery. */
  private def readDirs(schema: Option[StructType], dirs: Seq[String]): DataFrame =
    schema match {
      case Some(sc) => spark.read.schema(sc).parquet(dirs: _*)
      case None => spark.read.parquet(dirs: _*)
    }

  def exists(table: String): Boolean = fs.exists(new HPath(tdir(table), "_CURRENT"))

  /** Create/replace the table (bulk load — the §3.2 ingest sink).
    * `sortBy` clusters rows within each partition's files so parquet
    * row-group min/max stats prune point/range predicates on those
    * columns at read time (the same lever compact exposes). */
  def create(table: String, df: DataFrame, partitionCol: Option[String] = None,
             sortBy: Seq[String] = Nil): Unit = {
    val s = snapshot(table)
    fs.mkdirs(tdir(table))
    savePartCol(table, partitionCol)
    val (written, schema) = writeSegments(table, df, s.next, partitionCol, sortBy)
    commit(s, written, Some(schema), layout = Some(partitionCol))
  }

  private def savePartCol(table: String, pc: Option[String]): Unit =
    writeString(new HPath(tdir(table), "_PARTCOL"), pc.getOrElse(""))

  /** The layout effective at version `v`: the version's own partcol
    * record, falling back to the table-level `_PARTCOL` for versions
    * committed before per-version layouts existed. */
  private def partColAt(table: String, v: Int): Option[String] =
    readString(versionFile(table, s"v$v.partcol")) match {
      case Some(s) => Some(s.trim).filter(_.nonEmpty)
      case None =>
        readString(new HPath(tdir(table), "_PARTCOL")).map(_.trim).filter(_.nonEmpty)
    }

  /** Change the table's partition column ONLINE — the
    * `ALTER TABLE … PARTITIONED BY` of the store: one full COW rewrite
    * of the current snapshot under the new layout, published by the
    * same atomic claim+swap every mutation uses. Deliberately a full
    * rewrite (one scan + one write is the honest price of a layout
    * change; the return is every later partition-pruned read against
    * the new column). Readers never block; time travel keeps serving
    * old versions under THEIR OWN layout (per-version partcol), and the
    * optional `sortBy` clusters files within the new partitions (the
    * min/max-skipping lever, as in create). */
  def repartitionBy(table: String, newPartitionCol: Option[String],
                    sortBy: Seq[String] = Nil): Unit = {
    val s = snapshot(table)
    val (written, schema) =
      writeSegments(table, readVersion(table, s.version), s.next, newPartitionCol, sortBy)
    commit(s, written, Some(schema), layout = Some(newPartitionCol))
    savePartCol(table, newPartitionCol) // legacy mirror, post-publish
  }

  /** Snapshot read of the current version (no partial states visible). */
  def read(table: String): DataFrame = readAt(table, currentVersion(table))

  private def readAt(table: String, v: Int): DataFrame = {
    val m = manifest(table, v)
    if (m.isEmpty) spark.emptyDataFrame
    else readDirs(schemaOf(table, v), dirsOf(m))
  }

  /** Time-travel read: the table exactly as of committed version `v`
    * (1-based; `version(table)` is the newest). COW segments are
    * immutable, so the snapshot is consistent by construction. Valid
    * while `v`'s manifest survives [[vacuum]]'s retention horizon;
    * asking for a reclaimed version fails loudly (missing manifest),
    * never silently serves partial data. */
  def readVersion(table: String, v: Int): DataFrame = {
    val cur = currentVersion(table)
    require(v >= 1 && v <= cur, s"version $v out of range 1..$cur for table '$table'")
    readAt(table, v)
  }

  /** Committed versions whose manifests are currently retained
    * (readable via [[readVersion]]), ascending. */
  def versions(table: String): Seq[Int] = {
    val vd = new HPath(tdir(table), "_versions")
    if (!fs.exists(vd)) Seq.empty
    else fs.listStatus(vd).iterator
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.endsWith(".manifest") =>
        s.stripPrefix("v").stripSuffix(".manifest").toInt }
      .toSeq.sorted
  }

  /** Row-level diff between two retained versions (`fromV` < `toV`
    * typically, but any pair works): the table schema plus a `change`
    * column of 'added' / 'removed' — the pipeline-audit view of what a
    * mutation epoch actually did. Multiplicity-aware (`exceptAll`), so a
    * duplicate row inserted twice shows up twice. Cost: one hash
    * aggregation over the two snapshots' rows — there is no cheaper
    * general answer for a format whose segments are content-addressed
    * per partition, and unchanged partitions could be pruned by
    * comparing manifests first (not done: manifest dirs differ whenever
    * the partition was REWRITTEN, not only when rows changed). */
  def diff(table: String, fromV: Int, toV: Int): DataFrame = {
    val before = readVersion(table, fromV)
    val after = readVersion(table, toV)
    after.exceptAll(before).withColumn("change", lit("added"))
      .unionByName(before.exceptAll(after).withColumn("change", lit("removed")))
  }

  /** Keyed change feed between two retained versions: per-key rows
    * classified 'insert' / 'update' / 'delete', carrying the AFTER
    * image (nulls for deletes) — the consumer-facing face of [[diff]].
    * This is what lets downstream maintenance touch only what moved:
    * the reference re-vectorizes documents its add/remove endpoint
    * mutated (Vectorize/AddRemoveData.cs:25-50); at 100 TB the
    * vectorizer/indexer must subscribe to "which keys changed since the
    * version I last processed" rather than rescan, and this read is
    * that subscription (pair it with [[graft.streaming.VectorIngest]]
    * or an index store's incremental add/remove).
    *
    * Cost: ONE key-shuffle full-outer join of the two snapshots —
    * after-images compare to before-images as structs (null-safe), so
    * restated rows (upserts that wrote identical values) emit nothing.
    * Schema evolution: compares on `toV`'s committed columns; a column
    * added between the versions reads as null on the before side, so a
    * row whose only change is the backfilled value classifies as
    * 'update' (correct — a consumer must reprocess it). */
  def changeFeed(table: String, fromV: Int, toV: Int, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "changeFeed needs key columns")
    val after0 = readVersion(table, toV)
    val before0 = readVersion(table, fromV)
    // an empty snapshot (all rows deleted) reads as a zero-column frame;
    // take the schema from whichever side has one (toV wins — its
    // committed schema is the feed's shape)
    val shaped = if (after0.columns.nonEmpty) after0 else before0
    require(shaped.columns.nonEmpty, s"both versions of '$table' are empty")
    val cols = shaped.columns.toSeq
    val nonKey = cols.filterNot(keys.contains)
    def align(df: DataFrame): DataFrame =
      if (df.columns.isEmpty) shaped.limit(0)
      else shaped.limit(0).unionByName(df, allowMissingColumns = true)
        .select(cols.map(col): _*)
    val after = align(after0)
    val before = align(before0)
    def packed(df: DataFrame, tag: String) =
      df.select(keys.map(col) :+ struct(nonKey.map(col): _*).as(tag): _*)
    val joined = packed(before, "__b").join(packed(after, "__a"), keys, "full_outer")
    joined
      .withColumn("change",
        when(col("__b").isNull, lit("insert"))
          .when(col("__a").isNull, lit("delete"))
          .when(!(col("__b") <=> col("__a")), lit("update")))
      .filter(col("change").isNotNull)
      .select(keys.map(col) ++ nonKey.map(c => col(s"__a.$c").as(c)) :+ col("change"): _*)
  }

  /** Snapshot read restricted to the named partition-key values —
    * manifest-level partition pruning: segment dirs of other partitions
    * are never even listed, let alone opened. The IVF search path reads
    * only its nprobe centroid partitions through this. */
  def readPartitions(table: String, partKeys: Seq[String]): DataFrame = {
    val v = currentVersion(table)
    val m = manifest(table, v)
    val safe = partKeys.map(safeKey).toSet
    val dirs = dirsOf(m.filter { case (k, _) => safe.contains(k) })
    if (dirs.nonEmpty) readDirs(schemaOf(table, v), dirs)
    // no matching partitions: keep the TABLE's schema (a zero-column
    // emptyDataFrame would crash callers selecting result columns)
    else readAt(table, v).limit(0)
  }

  /** The keyed upsert as a driver-local executor of the same rewrite
    * ([[rewrite]]): same snapshot, same victim key function (the
    * driver-side [[partExpr]], [[localPartKey]]), same segment writer
    * as [[writeSegments]]' local path ([[writeLocal]]), same commit
    * ([[commitRewrite]]). Applies — and commits — the upsert on the
    * driver when EVERY gate holds, returning true; any failed gate
    * returns false with nothing written and the caller runs the Spark
    * executor. Gates:
    *
    *  - updates is a LocalRelation of ≤ 10k rows ([[localTinyRows]] —
    *    never collects distributed data);
    *  - all types atomic ([[LocalParquet.supports]]); no timestamp/date
    *    KEY columns (key equality must not depend on the session's
    *    java8API row representation) and no float/double KEY columns
    *    (Spark's join treats NaN as equal to NaN; driver-side row
    *    equality does not);
    *  - the partition column is part of the key (victim location needs
    *    no scan) and driver-replicable ([[localPartKey]]);
    *  - updates' fields match the committed schema by (name, type) —
    *    schema-evolution upserts take the generic path;
    *  - the files of ALL touched partitions together total ≤
    *    `spark.graft.store.localUpsertMaxBytes` (default 8 MB; the gate
    *    is one sum across the touched partitions, not a per-partition
    *    limit), and every file's footer matches the committed layout
    *    byte-for-byte ([[LocalParquet.readIfExact]] — INT96/evolved
    *    files decline).
    *
    * Semantics mirror the Spark executor exactly: SQL anti-join (null
    * keys never match), update-batch duplicates all survive. */
  private def localUpsert(s: Snapshot, updates: DataFrame, keys: Seq[String]): Boolean = {
    if (!s.layout.forall(keys.contains)) return false
    val uSchema = updates.schema
    if (!LocalParquet.supports(uSchema)) return false
    if (keys.exists(k => uSchema(k).dataType match {
      case TimestampType | DateType | FloatType | DoubleType => true
      case _ => false
    })) return false
    val keyFn = localPartKey(s.layout, uSchema).getOrElse(return false)
    // a pre-schema-tracking table can't pin the footer layout
    val committed = if (s.manifest.isEmpty) uSchema else s.schema.getOrElse(return false)
    def shape(st: StructType) = st.fields.map(f => (f.name, f.dataType)).toSeq
    if (shape(committed) != shape(uSchema)) return false
    val uRows = localTinyRows(updates).getOrElse(return false)
    val touched = uRows.map(keyFn).toSet
    val maxBytes = spark.conf.getOption("spark.graft.store.localUpsertMaxBytes")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption).filter(_ > 0)
      .getOrElse(8L << 20)
    val files = s.dirs(touched).flatMap(dataFiles)
    if (files.map(_.getLen).sum > maxBytes) return false
    // foreign footer layout: generic path
    val kept = files.flatMap(st =>
      LocalParquet.readIfExact(hconf, st.getPath, committed).getOrElse(return false))
    // SQL left_anti on the key columns: null key components never match
    val kidx = keys.map(committed.fieldIndex)
    def keyOf(r: Row): Option[Seq[Any]] = {
      val vs = kidx.map(r.get)
      if (vs.contains(null)) None else Some(vs)
    }
    val upKeys = uRows.flatMap(keyOf).toSet
    val merged = kept.filter(r => keyOf(r).forall(k => !upKeys.contains(k))) ++ uRows
    commitRewrite(s, touched,
      (writeLocal(s.table, s.next, committed, merged, keyFn), committed.json))
    true
  }

  /** S5: keyed upsert (ReplaceOne(IsUpsert=true) analog). Only partitions
    * containing updated keys are rewritten; the rest of the table is
    * carried by manifest reference.
    *
    * Schema evolution (add-only, the Delta `mergeSchema` semantics):
    * updates may carry NEW columns — the committed schema becomes the
    * union, and rows in untouched partitions read back with nulls for
    * the added column (schema-clipped read, no rewrite). Updates may
    * also omit existing columns (filled null on the inserted rows).
    * Type changes fail loudly in the union resolution. */
  def upsert(table: String, updates: DataFrame, keys: Seq[String]): Unit = {
    val s = snapshot(table)
    // METADATA-SCALE FAST PATH (r20, guide §5 — the r19 LocalParquet
    // write path extended to the keyed COW upsert): a tiny LocalRelation
    // update against kB-sized touched partitions (chat sessions,
    // semantic caches, stream verdicts) pays ~2 Spark jobs per call on
    // the generic path where the whole read-merge-write cycle is
    // driver-trivial. Strictly gated (localUpsert checks every
    // condition and declines otherwise — never collects distributed
    // data, never guesses a footer layout); snapshot, manifests, commit
    // and sidecar refreshes are IDENTICAL either way.
    if (localUpsert(s, updates, keys)) return
    val updateParts = partKeys(updates, s.layout)
    // A matching OLD row may live in a different partition than its
    // replacement when the update moves the partition column. If the
    // partition column is part of the key (the reference's compound keys
    // always include it: (categoryId,_id) etc.), updates' partitions are
    // exactly the victims — no scan. Otherwise, locate victims with a
    // column-pruned key scan over the rest of the table.
    val touched =
      if (s.layout.forall(keys.contains)) updateParts
      else updateParts ++ victims(s, updates, keys, s.manifest -- updateParts)
    // when no partition is touched the rewrite's base is an empty frame
    // of the TABLE's schema, so an insert-only update into fresh
    // partitions can never narrow the committed schema
    rewrite(s, touched, shape = updates.schema)(
      _.join(updates.select(keys.map(col): _*).distinct(), keys, "left_anti")
        .unionByName(updates, allowMissingColumns = true))
  }

  /** Keyed upsert that ALSO drops rows matching `dropKeysDf` in the SAME
    * commit — the index-maintenance shape: a re-added document's new
    * rows land while its old rows leave partitions the new rows don't
    * touch, without paying TWO COW rewrites of the same partitions
    * (delete-commit + upsert-commit read and rewrite every touched
    * partition twice; at q172's sf0.1 shape that was half the add
    * cost). `dropParts` bounds the partitions holding droppable rows
    * when the caller knows them from a reverse index (docmap); without
    * it they are located like [[delete]]'s keyed form. */
  def upsertDropping(table: String, updates: DataFrame, keys: Seq[String],
                     dropKeysDf: DataFrame, dropKeys: Seq[String],
                     dropParts: Option[Seq[String]] = None): Unit = {
    require(keys.nonEmpty && dropKeys.nonEmpty, "need key columns")
    val s = snapshot(table)
    val updateParts = graft.tools.Timing(s"ud-$table-partkeys")(partKeys(updates, s.layout))
    require(s.layout.forall(keys.contains),
      "upsertDropping requires the partition column in the upsert key " +
        "(the reference-shape compound keys); use upsert + delete otherwise")
    val dropSet = dropKeysDf.select(dropKeys.map(col): _*).distinct()
    val touched = updateParts ++ dropParts.map(_.map(safeKey).toSet).getOrElse(
      if (s.layout.isEmpty) Set("all") else victims(s, dropSet, dropKeys, s.manifest))
    rewrite(s, touched, shape = updates.schema) { cur =>
      // cluster the rewrite by partition: without this every shuffle task
      // sprays a sliver into every touched partition dir (tasks×partitions
      // small files per commit — the classic partitionBy mistake the bulk
      // build already avoids), and the NEXT mutation's read pays the
      // file-count back with interest
      val merged = cur.join(dropSet, dropKeys, "left_anti")
        .join(updates.select(keys.map(col): _*).distinct(), keys, "left_anti")
        .unionByName(updates, allowMissingColumns = true)
      s.layout match {
        case Some(c) if touched.size > 1 => merged.repartition(col(c))
        case _ => merged
      }
    }
  }

  /** Append-only insert commit — the LSM half of the COW store: `rows`
    * land as ADDITIONAL segment dirs on their partitions, and NO
    * existing segment is listed, read, or rewritten, so an insert
    * trigger costs O(batch) regardless of table size. (An [[upsert]] of
    * 20 new documents into a 64-partition table rewrites every touched
    * partition — at 100 TB that is the whole table per micro-batch;
    * this is the operation streaming insert sinks must use instead.)
    * [[compact]] folds a partition's accumulated segments back into
    * ~maxFileBytes files; a partition with several segments always
    * qualifies as fragmented, so routine compaction bounds read fan-in.
    *
    * Caller contract: rows are NEW — nothing they carry supersedes an
    * existing row (use [[upsert]]/[[mergeSet]] otherwise; the store
    * cannot check this without reading, which would defeat the point).
    * Streaming replay caveat: a foreachBatch re-delivery would DUPLICATE
    * appended rows — a streaming sink may append only when a replay is
    * detectable (IndexIngest: replayed ids exist in docmap and route to
    * the keyed-rewrite path); otherwise keep the keyed upsert.
    * Schema follows upsert's add-only evolution: new columns extend the
    * committed schema; untouched segments read back nulls for them.
    * Per-partition stats/bloom sidecars refresh incrementally — an
    * appended partition counts as changed and is rescanned (segment-
    * granular sidecars would make that O(batch) too; not yet needed). */
  def append(table: String, rows: DataFrame): Unit = {
    val s = snapshot(table)
    // cluster the append by partition — the same discipline as
    // upsertDropping's rewrite: without it every task of `rows` sprays
    // a sliver file into every partition dir it holds rows for
    // (tasks × partitions tiny files PER TRIGGER for a streaming
    // append), and every later read/rewrite pays the file count back.
    // The un-numbered repartition is AQE-sized: a 20-doc trigger
    // coalesces to one write task, a bulk append spreads.
    val clustered = s.layout match {
      case Some(c) => rows.repartition(col(c))
      case None => rows
    }
    val (written, schemaJson) = writeSegments(table, clustered, s.next, s.layout)
    val schema: String =
      if (s.manifest.isEmpty) schemaJson
      else s.schema match {
        case Some(sc) => StructType(sc.fields ++
          rows.schema.fields.filterNot(f => sc.fieldNames.contains(f.name))).json
        case None => schemaJson
      }
    val merged = written.foldLeft(s.manifest) { case (m, (k, d)) =>
      m.updated(k, m.get(k).map(old => s"$old,$d").getOrElse(d))
    }
    commit(s, merged, Some(schema))
  }

  /** Partial-column merge — the `$set` half of the reference's update
    * surface (UpdateOne `$set` on the vector field when vectorize-on-
    * write enriches an existing document, vs ReplaceOne for whole-doc
    * upserts = [[upsert]]). Rows matching `keys` get `setCols`
    * overwritten from `updates` (nulls in `updates` DO set null — $set
    * semantics, not coalesce); non-matching table rows keep their
    * values; update rows with no match are ignored (upsert=false).
    * Only partitions containing matched keys are rewritten. */
  def mergeSet(table: String, updates: DataFrame, keys: Seq[String],
               setCols: Seq[String]): Unit = {
    require(setCols.nonEmpty && setCols.intersect(keys).isEmpty,
      s"setCols must be non-empty and disjoint from keys: $setCols / $keys")
    val s = snapshot(table)
    if (s.manifest.isEmpty) return
    // one row per key (a multi-valued $set batch is caller error);
    // the join side stays un-hinted — AQE broadcasts a small batch and
    // shuffles a corpus-scale one
    val u = updates.select((keys ++ setCols).map(col): _*)
      .dropDuplicates(keys)
      .withColumn("__matched", lit(true))
    val touched = victims(s, updates, keys, s.manifest)
    if (!touched.exists(s.manifest.contains)) return
    val renamed = setCols.foldLeft(u)((d, c) => d.withColumnRenamed(c, s"__set_$c"))
    rewrite(s, touched) { cur =>
      setCols.foldLeft(cur.join(renamed, keys, "left")) { (d, c) =>
        d.withColumn(c, when(col("__matched"), col(s"__set_$c")).otherwise(col(c)))
      }.drop("__matched" +: setCols.map(c => s"__set_$c"): _*)
        .select(cur.columns.map(col): _*)
    }
  }

  /** S6/S7: delete rows matching the predicate (point or bulk). The scan
    * prunes to partitions that may match only when the predicate binds
    * the partition column via the caller-supplied hint. */
  def delete(table: String, predicate: Column,
             touchedParts: Option[Seq[String]] = None): Unit = {
    val s = snapshot(table)
    val touched = touchedParts.fold(s.manifest.keySet)(_.map(safeKey).toSet)
    if (!touched.exists(s.manifest.contains)) return
    // SQL DELETE semantics: remove only rows where the predicate is TRUE.
    // A bare !predicate would also drop rows where it evaluates to NULL
    // (e.g. a NULL column in col("price") > 100) — silent data loss.
    rewrite(s, touched)(_.filter(!coalesce(predicate, lit(false))))
  }

  /** Keyed bulk delete — the anti-join form of S6/S7 for key sets too
    * large (or too compound) for a predicate literal: rows whose key
    * tuple appears in `keysDf` are removed. Victim location mirrors
    * [[upsert]]: when the partition column is part of the key the key
    * frame's own partitions bound the victims; otherwise a column-pruned
    * key scan locates them. Only victim partitions are read and
    * rewritten (anti-joined against the key frame), so the keys never
    * visit the driver — a retention purge of millions of keys (the CDC
    * delete-batch shape) stays distributed end-to-end. Compound keys are
    * first-class: the reference's own mutation key is
    * (Type, SessionId, Id) (MongoDbService.cs:573-575). Null key values
    * never match (SQL equi-join semantics), same as the predicate form's
    * null-is-not-deleted rule. */
  def delete(table: String, keysDf: DataFrame, keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "keyed delete needs key columns")
    val s = snapshot(table)
    if (s.manifest.isEmpty) return
    val keySet = keysDf.select(keys.map(col): _*).distinct()
    val touched =
      if (s.layout.isEmpty) Set("all") else victims(s, keySet, keys, s.manifest)
    if (!touched.exists(s.manifest.contains)) return
    rewrite(s, touched)(_.join(keySet, keys, "left_anti"))
  }

  def version(table: String): Int = currentVersion(table)

  /** Current version's physical layout: partition key → segment dir.
    * Metadata-only (one manifest read). Lets callers and specs assert
    * COW locality: a mutation that touches partition P must leave every
    * other partition's segment dir ENTRY unchanged (carried by manifest
    * reference, bytes never rewritten). */
  def layout(table: String): Map[String, String] =
    manifest(table, currentVersion(table))

  /** The data files of one segment dir (no `_`/`.` metadata files). */
  private def dataFiles(dir: String): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(new HPath(dir)).toSeq.filter { st =>
      val name = st.getPath.getName
      st.isFile && !name.startsWith("_") && !name.startsWith(".")
    }

  /** Per-partition physical layout: (partition key, file count, bytes).
    * Metadata-only (one listing per partition dir, no data read) — the
    * health check an operator runs before deciding to [[compact]]. */
  def fileStats(table: String): Seq[(String, Int, Long)] = fileStatsOf(layout(table))

  private def fileStatsOf(m: Map[String, String]): Seq[(String, Int, Long)] =
    m.toSeq.sortBy(_._1).map { case (k, dirs) =>
      val files = splitDirs(dirs).flatMap(dataFiles)
      (k, files.length, files.map(_.getLen).sum)
    }

  /** OPTIMIZE-analog: rewrite fragmented partitions into ~`maxFileBytes`
    * files and commit the result as a new version. A COW store that
    * upserts continuously accumulates small files (every touched
    * partition is rewritten by however many tasks held its rows); at
    * 100 TB the resulting per-file overhead (open/footer/seek per task)
    * dominates scan cost, so compaction is a first-class store op —
    * same role as Delta/Iceberg OPTIMIZE.
    *
    * Scale shape: victims are chosen from file listings ONLY (no data
    * read) — a partition is fragmented iff its file count exceeds
    * ceil(bytes/maxFileBytes). Only victim partitions are read and
    * rewritten; everything else is carried by manifest reference. The
    * rewrite salts rows into ceil(bytes/maxFileBytes) slots per
    * partition (hash of the full row — deterministic, no row key
    * needed), so a giant partition compacts through many parallel tasks
    * instead of funneling into one. Readers are unaffected: the commit
    * is the same atomic `_CURRENT` swap every mutation uses, and old
    * versions stay time-travelable until [[vacuum]].
    *
    * `sortBy` additionally clusters rows within each rewritten file
    * (Z-order-lite: a plain within-task sort), tightening parquet
    * row-group min/max on those columns so the file-internal pruning
    * layer composes with [[readRange]]'s partition-level skipping.
    * Compaction also normalizes old files to the current committed
    * schema (evolved columns get materialized nulls).
    *
    * Returns true iff a new version was committed (false = nothing
    * fragmented; calling again is a no-op, so compaction is idempotent
    * until the next mutation). */
  def compact(table: String, maxFileBytes: Long = 128L << 20,
              sortBy: Seq[String] = Nil): Boolean = {
    require(maxFileBytes > 0, s"bad maxFileBytes $maxFileBytes")
    val s = snapshot(table)
    def idealFiles(bytes: Long): Int =
      math.max(1, math.ceil(bytes.toDouble / maxFileBytes).toInt)
    val slotsByPart = fileStatsOf(s.manifest).collect {
      case (k, n, bytes) if n > idealFiles(bytes) => k -> idealFiles(bytes)
    }.toMap
    if (slotsByPart.isEmpty) return false
    import spark.implicits._
    val slotsDf = slotsByPart.toSeq.toDF("__part", "__slots")
    // clustering (sortBy) happens inside writeSegments, where the write
    // task's (__part, sortBy...) sort survives the dynamic-partition writer
    rewrite(s, slotsByPart.keySet, sortBy) { df0 =>
      df0.withColumn("__part", partExpr(s.layout))
        .join(broadcast(slotsDf), Seq("__part"))
        .withColumn("__slot", pmod(xxhash64(struct(df0.columns.map(col): _*)), col("__slots")))
        .repartition(slotsByPart.values.sum, col("__part"), col("__slot"))
        .drop("__part", "__slots", "__slot")
    }
    true
  }

  /** Collect per-partition min/max statistics for `cols` (numeric/date
    * columns) over the CURRENT version and persist them as the version's
    * stats sidecar. One column-pruned scan; the collected result is one
    * row per partition — driver-trivial at any corpus size. Stats are
    * keyed to the version they describe: any later mutation makes them
    * silently unused (never wrong), until the next analyze. */
  def analyze(table: String, cols: Seq[String]): Unit = {
    val s = snapshot(table)
    if (s.manifest.isEmpty || cols.isEmpty) return
    writeString(versionFile(table, s"v${s.version}.stats"),
      statsLines(s, dirsOf(s.manifest), cols).mkString("\n"))
  }

  /** One column-pruned min/max scan over `dirs`, one stats line per
    * (partition, column), keyed by `s`'s layout. Reads through `s`'s
    * COMMITTED schema ([[readDirs]]) — parquet footer inference on an
    * evolved table would sample an arbitrary segment's schema and
    * either throw or nondeterministically skip stats for old
    * partitions. */
  private def statsLines(s: Snapshot, dirs: Seq[String], cols: Seq[String]): Seq[String] = {
    val df = readDirs(s.schema, dirs)
    val present = cols.filter(df.columns.contains)
    if (present.isEmpty) return Seq.empty
    val aggs = present.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"__min_$c"),
      max(col(c)).cast("double").as(s"__max_$c")))
    df.groupBy(partExpr(s.layout).as("__part"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq
      .flatMap { r =>
        val part = r.getString(0)
        present.zipWithIndex.flatMap { case (c, i) =>
          val lo = r.get(1 + 2 * i); val hi = r.get(2 + 2 * i)
          if (lo == null || hi == null) None // all-null column: no evidence
          else Some(s"$part\t$c\t$lo\t$hi")
        }
      }
  }

  /** Carry the stats sidecar across a commit: columns analyzed at the
    * base version stay analyzed at the new one, so [[readRange]] never
    * silently degrades to a full listing after a mutation epoch.
    * Incremental — partitions whose segment dir is CARRIED from the
    * base manifest keep their stats rows verbatim; only new/rewritten
    * partitions are scanned (column-pruned), so refresh cost tracks the
    * mutation, not the table size. Runs before the `_CURRENT` swap, so
    * a version is never visible without its stats. */
  private def refreshStats(before: Snapshot, after: Snapshot): Unit = {
    val baseStats = readStats(before.table, before.version).getOrElse(return)
    val cols = baseStats.keys.map(_._2).toSeq.distinct.sorted
    if (cols.isEmpty) return
    val (carried, changed) = carriedAndChanged(before, after)
    val carriedLines = for {
      k <- carried.keys.toSeq.sorted; c <- cols
      (lo, hi) <- baseStats.get((k, c))
    } yield s"$k\t$c\t$lo\t$hi"
    val changedLines =
      if (changed.isEmpty) Seq.empty else statsLines(after, dirsOf(changed), cols)
    writeString(versionFile(after.table, s"v${after.version}.stats"),
      (carriedLines ++ changedLines).mkString("\n"))
  }

  /** `after`'s partitions split into those whose segment dirs are
    * carried verbatim from `before` and those the commit (re)wrote. */
  private def carriedAndChanged(before: Snapshot, after: Snapshot)
      : (Map[String, String], Map[String, String]) =
    after.manifest.partition { case (k, d) => before.manifest.get(k).contains(d) }

  private def readStats(table: String, v: Int): Option[Map[(String, String), (Double, Double)]] =
    readString(versionFile(table, s"v$v.stats")).map { body =>
      body.split("\n").iterator.filter(_.nonEmpty).map { l =>
        val Array(p, c, lo, hi) = l.split("\t", 4)
        (p, c) -> (lo.toDouble, hi.toDouble)
      }.toMap
    }

  /** Partition keys a `column BETWEEN lo AND hi` read must touch, by
    * min/max stats overlap, plus the total partition count. Pruning is
    * evidence-based: a partition survives unless its recorded [min,max]
    * provably misses the range — no stats (never analyzed, stale
    * version, all-null column) keeps the partition, so the answer can
    * only over-read, never drop rows. */
  def statsPrunedParts(table: String, column: String, lo: Any, hi: Any): (Seq[String], Int) = {
    val v = currentVersion(table)
    val m = manifest(table, v)
    val l = lo.toString.toDouble; val h = hi.toString.toDouble
    readStats(table, v) match {
      case None => (m.keys.toSeq.sorted, m.size)
      case Some(st) =>
        // stats are stored as doubles: a long beyond 2^53 rounds, so the
        // kept-side bounds are widened by 2 ulps before comparing —
        // rounding can then only OVER-read, never drop a partition that
        // actually contains matching rows (the documented guarantee)
        def up(x: Double) = Math.nextUp(Math.nextUp(x))
        def dn(x: Double) = Math.nextDown(Math.nextDown(x))
        val kept = m.keys.filter { p =>
          st.get((p, column)) match {
            case Some((mn, mx)) => up(mx) >= l && dn(mn) <= h
            case None => true
          }
        }.toSeq.sorted
        (kept, m.size)
    }
  }

  /** Data-skipping range read: `column BETWEEN lo AND hi` touching only
    * the partitions whose analyzed min/max overlaps the range — the
    * manifest-level analog of parquet row-group pruning, one level
    * higher: skipped partitions are never listed, let alone opened. The
    * skipped-partition fraction is the 100 TB win: a range over a
    * clustered column reads O(selectivity) of the corpus. Falls back to
    * the full partition set (still filtered, still correct) when stats
    * are absent or stale. Numeric/date columns only — same contract as
    * [[analyze]]. */
  def readRange(table: String, column: String, lo: Any, hi: Any): DataFrame =
    readWhere(table, Seq((column, lo, hi)))

  /** Conjunctive multi-column data-skipping read: a partition survives
    * only if EVERY range's recorded stats overlap it (kept sets
    * intersect), and each missing-stats column keeps its partitions —
    * pruning composes but the over-read-never-drop guarantee is
    * per-column. All ranges are re-applied as row filters. */
  def readWhere(table: String, ranges: Seq[(String, Any, Any)]): DataFrame = {
    require(ranges.nonEmpty, "need at least one range")
    val kept = ranges
      .map { case (c, lo, hi) => statsPrunedParts(table, c, lo, hi)._1.toSet }
      .reduce(_ intersect _)
    val pred = ranges
      .map { case (c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi) }
      .reduce(_ && _)
    readPartitions(table, kept.toSeq.sorted).filter(pred)
  }

  /** Build a per-partition Bloom-filter sidecar for `column` over the
    * CURRENT version — point-lookup skipping for HIGH-CARDINALITY
    * columns the table is NOT clustered by, where [[analyze]]'s min/max
    * is useless (a scattered key's range covers every partition). One
    * column-pruned pass; per partition only the kB-sized serialized
    * sketch reaches the driver sidecar, never the keys. Keys are hashed
    * through `xxhash64(cast(column AS string))` — the identical
    * expression [[bloomPrunedParts]] replays driver-side, so build and
    * probe can never disagree on the hash domain. Integral and string
    * key columns only (float casts format differently across paths).
    * Like [[analyze]], the sidecar is carried and incrementally
    * refreshed across commits ([[refreshBlooms]]): carried partitions
    * keep their sketch verbatim, rewritten ones are rescanned. */
  def analyzeBloom(table: String, column: String,
                   expectedItemsPerPartition: Long = 1L << 22,
                   fpp: Double = 0.03): Unit = {
    require(column.matches("[A-Za-z0-9_]+"), s"unsafe column name '$column'")
    require(expectedItemsPerPartition > 0 && fpp > 0 && fpp < 1,
      s"bad bloom params ($expectedItemsPerPartition, $fpp)")
    val s = snapshot(table)
    if (s.manifest.isEmpty) return
    val numBits = sketch.BloomFilter.create(expectedItemsPerPartition, fpp).bitSize()
    val lines = bloomLines(s, dirsOf(s.manifest), column,
      expectedItemsPerPartition, numBits)
    if (lines.isEmpty) return // column absent from the committed schema
    writeString(versionFile(table, s"v${s.version}.bloom.$column"),
      (s"__meta\t$expectedItemsPerPartition\t$numBits" +: lines).mkString("\n"))
  }

  /** One pass over `dirs`: per store-partition (under `s`'s layout)
    * serialized Bloom sketch of `column`, via Spark's own
    * BloomFilterAggregate (the runtime-filter kernel) — partial
    * sketches merge map-side, the shuffle carries bit arrays, not keys. */
  private def bloomLines(s: Snapshot, dirs: Seq[String], column: String,
                         items: Long, numBits: Long): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val df = readDirs(s.schema, dirs)
    if (!df.columns.contains(column)) return Seq.empty
    val child = org.apache.spark.sql.GraftSqlBridge.expression(
      xxhash64(col(column).cast("string")))
    val agg = org.apache.spark.sql.GraftSqlBridge.column(
      new BloomFilterAggregate(child, CatLit(items), CatLit(numBits))
        .toAggregateExpression())
    df.groupBy(partExpr(s.layout).as("__part")).agg(agg.as("__bloom"))
      .collect().toSeq.flatMap { r =>
        Option(r.get(1)).map { b =>
          val b64 = java.util.Base64.getEncoder
            .encodeToString(b.asInstanceOf[Array[Byte]])
          s"${r.getString(0)}\t$b64"
        }
      }
  }

  private def readBlooms(table: String, v: Int,
                         column: String): Option[Map[String, sketch.BloomFilter]] =
    readString(versionFile(table, s"v$v.bloom.$column"))
      .map { body =>
        body.split("\n").iterator
          .filter(l => l.nonEmpty && !l.startsWith("__meta"))
          .map { l =>
            val Array(p, b64) = l.split("\t", 2)
            p -> sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(java.util.Base64.getDecoder.decode(b64)))
          }.toMap
      }

  /** Carry the Bloom sidecars across a commit, mirroring
    * [[refreshStats]]: partitions whose segment dir is carried keep
    * their sketch lines verbatim; only rewritten partitions are
    * rescanned, so refresh cost tracks the mutation, not the table. */
  private def refreshBlooms(before: Snapshot, after: Snapshot): Unit = {
    val vd = new HPath(tdir(after.table), "_versions")
    if (!fs.exists(vd)) return
    val prefix = s"v${before.version}.bloom."
    val sidecars = fs.listStatus(vd).iterator.map(_.getPath.getName)
      .filter(_.startsWith(prefix)).toSeq
    if (sidecars.isEmpty) return
    val (carried, changed) = carriedAndChanged(before, after)
    for {
      f <- sidecars
      body <- readString(new HPath(vd, f))
      column = f.stripPrefix(prefix)
      lines = body.split("\n").toSeq.filter(_.nonEmpty)
      meta <- lines.find(_.startsWith("__meta\t"))
    } {
      val Array(_, itemsS, bitsS) = meta.split("\t", 3)
      val carriedLines = lines.filter { l =>
        val p = l.split("\t", 2)(0)
        p != "__meta" && carried.contains(p)
      }
      val changedLines =
        if (changed.isEmpty) Seq.empty
        else bloomLines(after, dirsOf(changed), column, itemsS.toLong, bitsS.toLong)
      writeString(new HPath(vd, s"v${after.version}.bloom.$column"),
        (meta +: (carriedLines ++ changedLines)).mkString("\n"))
    }
  }

  /** Partition keys a `column IN (values)` lookup must touch, by Bloom
    * membership, plus the total count. Evidence-based like
    * [[statsPrunedParts]]: a partition survives unless its sketch says
    * NO value can be present — no sidecar (never analyzed, stale
    * version) or a partition without a sketch line keeps everything, so
    * pruning can only over-read (fpp false positives), never drop a row
    * that exists. Values are hashed exactly as the build side hashed
    * the column (xxhash64 over the string form). */
  def bloomPrunedParts(table: String, column: String,
                       values: Seq[Any]): (Seq[String], Int) = {
    require(values.nonEmpty, "need at least one lookup value")
    import org.apache.spark.sql.catalyst.expressions.{XxHash64, Literal => CatLit}
    val v = currentVersion(table)
    val m = manifest(table, v)
    readBlooms(table, v, column) match {
      case None => (m.keys.toSeq.sorted, m.size)
      case Some(bfs) =>
        val hashes = values.map { x =>
          new XxHash64(Seq(CatLit.create(x.toString,
            org.apache.spark.sql.types.StringType))).eval(null).asInstanceOf[Long]
        }
        val kept = m.keys.filter { p =>
          bfs.get(p) match {
            case Some(bf) => hashes.exists(bf.mightContainLong)
            case None => true
          }
        }.toSeq.sorted
        (kept, m.size)
    }
  }

  /** Bloom-pruned point lookup: `column IN (values)` touching only the
    * partitions whose sketch might hold one of the values — the store's
    * answer to "fetch these N documents by id" on a table clustered by
    * something else entirely. Falls back to the full partition set when
    * no sidecar exists (still filtered, still correct). */
  def readByKeys(table: String, column: String, values: Seq[Any]): DataFrame = {
    val (kept, _) = bloomPrunedParts(table, column, values)
    val base =
      if (kept.nonEmpty) readPartitions(table, kept)
      else schemaOf(table, currentVersion(table)) match {
        case Some(sc) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], sc)
        case None => read(table).filter(lit(false))
      }
    base.filter(col(column).isin(values: _*))
  }

  /** Garbage-collect segment directories referenced only by manifests
    * older than the `keepVersions` most recent ones, then drop those
    * manifests. Old snapshots stay readable down to the retention
    * horizon (time travel); beyond it, storage is reclaimed — without
    * this, a COW store's storage grows with write count, not data size.
    * Only dirs unreferenced by ALL retained manifests are deleted, and
    * `_CURRENT` is never touched. Vacuum is a maintenance op: run it
    * with no mutation in flight (an optimistic committer's not-yet-
    * claimed attempt dir looks like crash garbage to the sweep). */
  def vacuum(table: String, keepVersions: Int = 1): Unit = {
    require(keepVersions >= 1, "must keep at least the current version")
    val cur = currentVersion(table)
    val vd = new HPath(tdir(table), "_versions")
    if (!fs.exists(vd)) return
    // Uncommitted-epoch debris: claims/manifests/sidecars for versions
    // ABOVE _CURRENT are the remains of a commit that crashed between
    // its claim and its swap (with no writer in flight nothing live can
    // hold them). Clearing them here — and only here — is what unblocks
    // the next committer without commit itself ever guessing.
    fs.listStatus(vd).iterator.map(_.getPath.getName).foreach { name =>
      val ver = "^v(\\d+)\\.(manifest|schema|stats|partcol|claim|bloom\\..+)$".r
      name match {
        case ver(n, _) if n.toInt > cur => fs.delete(new HPath(vd, name), true)
        case _ => if (name.startsWith(".claim-")) fs.delete(new HPath(vd, name), true)
      }
    }
    val all = fs.listStatus(vd).iterator
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.endsWith(".manifest") =>
        s.stripPrefix("v").stripSuffix(".manifest").toInt }
      .toSeq.sorted
    val (drop, keep) = all.partition(v => v <= cur - keepVersions)
    val live = keep.flatMap(v => dirsOf(manifest(table, v))).toSet
    val dead = drop.flatMap(v => dirsOf(manifest(table, v))).toSet -- live
    dead.foreach { dir =>
      val p = new HPath(dir)
      val dfs = p.getFileSystem(hconf)
      if (dfs.exists(p)) dfs.delete(p, true)
    }
    val bloomFiles = fs.listStatus(vd).iterator.map(_.getPath.getName)
      .filter(_.matches("^v\\d+\\.bloom\\..+$")).toSeq
    drop.foreach { v =>
      fs.delete(new HPath(vd, s"v$v.manifest"), false)
      fs.delete(new HPath(vd, s"v$v.stats"), false)  // sidecars ride their
      fs.delete(new HPath(vd, s"v$v.schema"), false) // version's lifetime
      fs.delete(new HPath(vd, s"v$v.partcol"), false)
      fs.delete(new HPath(vd, s"v$v.claim"), true)   // epoch-claim marker
      bloomFiles.filter(_.startsWith(s"v$v.bloom."))
        .foreach(f => fs.delete(new HPath(vd, f), false))
    }
    // Crash-garbage sweep: a mutation that died between writeSegments and
    // commit (or lost the CAS race before its cleanup ran) leaves a
    // data/v<K>-<token> dir referenced by NO manifest, which the
    // manifest-driven pass above can never reach. With no mutation in
    // flight during vacuum, any attempt dir not referenced by a retained
    // manifest is garbage.
    val dataDir = new HPath(tdir(table), "data")
    if (fs.exists(dataDir)) {
      fs.listStatus(dataDir).iterator.filter(_.isDirectory).foreach { st =>
        val prefix = st.getPath.toString
        val referenced = live.exists(d => d == prefix || d.startsWith(prefix + "/"))
        if (!referenced) fs.delete(st.getPath, true)
      }
    }
  }
}
