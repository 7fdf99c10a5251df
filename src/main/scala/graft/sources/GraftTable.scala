package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import java.nio.charset.StandardCharsets.UTF_8

/** Transactional parquet table — ONE commit-log discipline for every
  * mutable artifact in the engine, replacing the four per-sink
  * manifest mechanisms that each reinvented a slice of it (s7's
  * per-bucket version TSVs, IncrementalFiles' `_processed_manifest-N`,
  * CompactFiles' `_compaction` + fresh-dir swap, ShardExport's
  * `_index`). The reference delegates exactly this consistency to its
  * warehouse (`app.py:4826` audit history, `app.py:6754-6815`
  * scheduled sync); a lakehouse engine has to provide it itself.
  *
  * Layout:
  * {{{
  *   root/_graft_log/v000000000001.txt    commit files (delta actions)
  *   root/_graft_log/ckpt-v000000000008.txt  checkpoint (live set + tag
  *                                           ledger + schema)
  *   root/data/<uuid>/part-*.parquet      immutable data files
  *   root/cdf/<uuid>/part-*.parquet       row-level change images of
  *                                        merge/delete commits (CDF)
  *   root/dv/<uuid>/part-*.parquet        DELETION VECTORS: (__file
  *                                        basename, __pos row index)
  *                                        sidecars of merge-on-read
  *                                        DML commits (`dv` actions)
  * }}}
  *
  * Protocol (Delta-Lake-shaped, format-independent):
  *   - data files are IMMUTABLE and uniquely named; a commit is the
  *     ONLY mutation, published as `v<N>` listing `add`/`remove`
  *     actions. Each `add` carries the file's byte size and (since
  *     round 10) its parquet-footer COLUMN STATS (row count, per-column
  *     min/max/null-count), and each commit records the table SCHEMA
  *     after it — so predicates prune the file list during log
  *     resolution (before any footer is opened) and an empty or
  *     schema-evolved table stays readable from the log alone;
  *   - publish is single-winner atomic: the commit body is staged to
  *     a tmp file, then linked/renamed to the version name — hard
  *     link on a local fs (POSIX link(2) fails if the name exists),
  *     namenode-atomic rename on HDFS. Losers re-resolve and retry
  *     (append) or abort on true conflict (compact/overwrite whose
  *     removed files are no longer live) — optimistic concurrency.
  *     Schemes whose rename is NOT atomic (s3a/gcs/abfs Hadoop rename
  *     is check-then-copy: two racing writers could both "win" the
  *     same version and silently lose a commit) are REFUSED at publish
  *     time unless `graft.logstore.unsafe=true` is set in the Hadoop
  *     conf — Delta's LogStore-whitelist rule;
  *   - readers resolve a snapshot from the log ONLY (never by listing
  *     `data/`): newest checkpoint ≤ V, then deltas (ckpt, V]. The
  *     resolved file list is pinned, so a reader holds version V
  *     unperturbed while writers publish V+1… — snapshot isolation;
  *   - every Kth commit writes a checkpoint of the full live set
  *     (with stats), the committed-tag ledger and the schema, so
  *     resolution, replay-idempotence lookup and schema resolution
  *     all read O(K) small files regardless of table age — and
  *     survive vacuum dropping pre-horizon commits;
  *   - `remove` is LOGICAL: the file leaves the live set but stays on
  *     disk, which is what makes `readVersion(n)` (time travel) and
  *     long-running snapshot readers safe under concurrent compaction.
  *     `vacuum(retain)` physically deletes files unreferenced by the
  *     retained version horizon — the only deletion in the protocol.
  *
  * Row-level DML (round 10) is COPY-ON-WRITE, the reference's actual
  * registry write path (`SaveData` app.py:5253, `DeleteData`
  * app.py:5216, `uploadExcel` app.py:6063-6300) made transactional:
  * [[mergeInto]] (and its upsert front [[merge]]) and the shared
  * [[rewriteWhere]] core of [[update]] / [[deleteWhere]] rewrite ONLY
  * the files that contain touched keys/rows (file-level stats pruning
  * first, then an exact membership probe), swap them in ONE atomic
  * serializable commit,
  * and write row-level change images (`_change_type` pre/post rows)
  * that [[changeFeed]] serves to incremental consumers — so a
  * 100 TB table pays for a small merge batch only the files that
  * batch actually touches.
  *
  * Compaction under this discipline beats CompactFiles' fresh-dir
  * swap: compliant files are NOT copied (they are already immutable
  * table files — the commit simply keeps them live), undersized files
  * are read once, rewritten to ~target-sized files, and swapped in a
  * single atomic commit. No reader can observe a half-swapped
  * directory at any instant, which closes the exposure the per-sink
  * mechanisms all had.
  */
class GraftTable private (val s: SparkSession, val root: String) {

  import GraftTable._

  private val conf = s.sparkContext.hadoopConfiguration
  private val rootPath = new Path(root)
  private val fs: FileSystem = rootPath.getFileSystem(conf)
  private def logDir = new Path(rootPath, LogDir)

  // ---- log resolution: one listing, one snapshot per version ----------
  //
  // Every question about version v — live files, schema, constraints,
  // bloom index, column mapping, partition keys, protocol, committed
  // tags — is read from ONE immutable [[Snapshot]] of v. A snapshot
  // is built by folding commits: forward from the instance's memo (the
  // newest snapshot it resolved or committed) when v is at most a
  // checkpoint interval ahead of it, else — and always on a fresh
  // instance — cold from the newest checkpoint ≤ v. The memo holds
  // one snapshot, so driver memory is O(live files), never
  // O(versions). The log-directory LISTING is the freshness signal a
  // concurrent writer advances, so it is never cached: a verb lists
  // once to pin its base, and once per commit attempt.

  private def log(): LogListing = {
    val names =
      try fs.listStatus(logDir).toSeq.map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    def numbered(prefix: String) = names.flatMap { n =>
      if (n.startsWith(prefix) && n.endsWith(Suffix))
        scala.util.Try(n.substring(prefix.length,
          n.length - Suffix.length).toLong).toOption
      else None
    }.sorted
    LogListing(numbered(VerPrefix), numbered(CkptPrefix))
  }

  /** Committed versions present in the log, ascending. */
  def versions(): Seq[Long] = log().versions

  def latestVersion: Long = log().latest

  private def readLines(p: Path): Seq[String] = {
    val in = fs.open(p)
    val bytes = new java.io.ByteArrayOutputStream()
    org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 65536, true)
    new String(bytes.toByteArray, UTF_8).linesIterator.filter(_.nonEmpty).toSeq
  }

  private def commitPath(v: Long) = new Path(logDir, f"$VerPrefix$v%012d$Suffix")
  private def ckptPath(v: Long) = new Path(logDir, f"$CkptPrefix$v%012d$Suffix")

  private[graft] type Commit = graft.sources.Commit

  /** Parsed commit files, per table instance. Commit files are
    * IMMUTABLE once published (single-winner atomic publish; vacuum
    * only deletes behind the retention horizon), so a parse never
    * goes stale: the change feeds, the history and a writer's
    * conflict check re-read commits the snapshot fold already parsed.
    */
  private val commitCache =
    scala.collection.concurrent.TrieMap.empty[Long, Commit]

  private[graft] def readCommit(v: Long): Commit =
    commitCache.getOrElseUpdate(v, Commit.parse(v, readLines(commitPath(v))))

  /** The newest snapshot this instance resolved or committed. */
  private val memo =
    new java.util.concurrent.atomic.AtomicReference[Snapshot](Snapshot.empty)

  /** The latest snapshot — the one a verb pins: one listing. */
  private[graft] def snapshot(): Snapshot = {
    val l = log()
    resolve(l.latest, l)
  }

  /** The snapshot of version `v`; lists the log only when it has to
    * fold cold. A fresh instance (empty memo) always folds cold, so it
    * starts from the newest checkpoint ≤ v: a checkpoint may hold state
    * no commit does (the tag ledger a clone seeds into its v1
    * checkpoint).
    */
  private[graft] def snapshot(v: Long): Snapshot = resolve(v, log())

  private def resolve(v: Long, listing: => LogListing): Snapshot =
    if (v <= 0) Snapshot.empty
    else {
      val m = memo.get
      val s =
        if (m.version == v) m
        else if (m.version > 0 && m.version < v &&
                 v - m.version <= CheckpointEvery)
          forward(m, v).getOrElse(cold(v, listing))
        else cold(v, listing)
      if (s.version == v) remember(s)
      s
    }

  private def remember(s: Snapshot): Unit = {
    memo.accumulateAndGet(s, (a, b) => if (b.version >= a.version) b else a)
    ()
  }

  /** `from` with the commits in (from, v] applied; None when one of
    * them is gone (vacuumed), so the caller folds cold instead.
    */
  private def forward(from: Snapshot, v: Long): Option[Snapshot] =
    try Some(((from.version + 1) to v).foldLeft(from)((s, x) => s(readCommit(x))))
    catch { case _: java.io.FileNotFoundException => None }

  /** The cold fold: the newest checkpoint ≤ v, then the listed commits
    * after it — O(checkpoint interval) log files, not O(table age).
    */
  private def cold(v: Long, l: LogListing): Snapshot = {
    val start = l.checkpoints.filter(_ <= v).lastOption.fold(Snapshot.empty) { cv =>
      Snapshot.fromCheckpoint(cv, readLines(ckptPath(cv)), ckptSidecar(cv),
        l.versions.filter(_ <= cv).map(readCommit(_).action))
    }
    l.versions.filter(x => x > start.version && x <= v)
      .foldLeft(start)((s, x) => s(readCommit(x)))
  }

  // ---- parquet checkpoint sidecar -------------------------------------
  //
  // Delta writes checkpoints as PARQUET because the bulk of a
  // checkpoint is O(live files): at 100 TB (~800k files at 128 MB)
  // a cold snapshot resolution over a text checkpoint parses hundreds
  // of MB of tab-separated lines, every time. The sidecar stores the
  // file/filedv rows columnar next to the text form; resolution reads
  // newest-format-first and falls back to the text body when the
  // sidecar is missing (pre-r14 logs, torn write — it publishes via
  // tmp+rename). The text checkpoint remains the source of truth for
  // the O(1) rows (schema, constraints, colmap, partmeta, protocol)
  // and the tag ledger, and stays byte-compatible for older readers.

  private def ckptParquetPath(v: Long) =
    new Path(logDir, f"$CkptPrefix$v%012d.parquet")

  /** The live (relpath → meta) set the parquet sidecar of checkpoint
    * `cv` records; None when there is no readable sidecar.
    */
  private def ckptSidecar(cv: Long): Option[Map[String, FileMeta]] =
    if (!fs.exists(ckptParquetPath(cv))) None
    else scala.util.Try {
      val rd = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          ckptParquetPath(cv))
        .withConf(conf).build()
      try {
        val b = Map.newBuilder[String, FileMeta]
        var g = rd.read()
        while (g != null) {
          val stats =
            if (g.getFieldRepetitionCount("stats") > 0)
              Some(g.getString("stats", 0))
            else None
          val dv =
            if (g.getFieldRepetitionCount("dv_path") > 0)
              Some(DvRef(g.getString("dv_path", 0),
                g.getLong("dv_bytes", 0), g.getLong("dv_deleted", 0)))
            else None
          b += g.getString("path", 0) ->
            FileMeta(g.getLong("bytes", 0), stats, dv)
          g = rd.read()
        }
        b.result()
      } finally rd.close()
    }.toOption

  /** Publish the checkpoint of `at` (text, then the parquet sidecar). */
  private def writeCheckpoint(at: Snapshot): Unit =
    if (publish(ckptPath(at.version), at.checkpointText.getBytes(UTF_8)))
      writeCkptParquet(at)

  /** Write the parquet sidecar for an already-published checkpoint.
    * Non-critical by design: a failure leaves the text checkpoint
    * fully authoritative (the read path falls back), so the commit
    * that triggered the checkpoint never aborts on sidecar IO.
    */
  private def writeCkptParquet(at: Snapshot): Unit =
    try {
      val dst = ckptParquetPath(at.version)
      if (fs.exists(dst)) return
      val schema = org.apache.parquet.schema.MessageTypeParser
        .parseMessageType(GraftTable.CkptParquetSchema)
      val tmp = new Path(logDir,
        s".${dst.getName}.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
          .fromPath(tmp, conf))
        .withType(schema)
        .build()
      val gf = new org.apache.parquet.example.data.simple
        .SimpleGroupFactory(schema)
      try {
        at.files.toSeq.sortBy(_._1).foreach { case (p, m) =>
          val g = gf.newGroup()
          g.append("path", p)
          g.append("bytes", m.bytes)
          m.stats.foreach { st => g.append("stats", st); () }
          m.dv.foreach { d =>
            g.append("dv_path", d.path)
            g.append("dv_bytes", d.bytes)
            g.append("dv_deleted", d.nDeleted)
            ()
          }
          w.write(g)
        }
      } finally w.close()
      if (!fs.rename(tmp, dst)) { fs.delete(tmp, false); () }
    } catch {
      case e: Exception =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"parquet checkpoint sidecar v${at.version} not written " +
            s"(text checkpoint remains authoritative): $e")
    }

  /** True when any live file of version `v` carries a deletion
    * vector — the READER FEATURE gate: paths that serve raw parquet
    * files (the DSv2 `graft` format, SQL time travel) must refuse
    * rather than silently resurrect deleted rows (Delta's
    * reader-version protocol does the same).
    */
  def hasDvAsOf(v: Long): Boolean = snapshot(v).hasDv

  /** The recorded table schema at version `v`. None on legacy logs
    * that predate schema recording (readers fall back to parquet
    * inference).
    */
  private[graft] def schemaAt(v: Long): Option[StructType] = snapshot(v).schema

  /** The active CHECK constraints (name → SQL expression). Every
    * commit re-records the full active set.
    */
  def constraints(): Map[String, String] = snapshot().constraints.toMap

  /** ADD CONSTRAINT (Delta's `ALTER TABLE … ADD CONSTRAINT … CHECK`):
    * validates that EVERY existing row satisfies `exprSql` (one
    * short-circuiting scan — a constraint the data already violates
    * must not be recorded), then publishes a metadata-only commit
    * carrying the new active set. Every later write validates its
    * incoming rows against the set before staging.
    */
  def addConstraint(name: String, exprSql: String): Long = {
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n'),
      s"bad constraint name: $name")
    require(!exprSql.exists(c => c == '\t' || c == '\n'),
      s"constraint expression must be a single line: $exprSql")
    val base = snapshot()
    val cur = base.constraints
    require(!cur.exists(_._1 == name), s"constraint '$name' already exists")
    val violating = readAt(base)
      .filter(!org.apache.spark.sql.functions.expr(exprSql))
    if (!violating.isEmpty) throw new IllegalArgumentException(
      s"cannot add constraint '$name': existing rows violate ($exprSql)")
    commit(s"constraint:add:$name", Seq.empty, Seq.empty,
      constraints = Some(cur :+ (name -> exprSql)))
  }

  /** DROP CONSTRAINT: metadata-only commit removing it from the set. */
  def dropConstraint(name: String): Long = {
    val cur = snapshot().constraints
    require(cur.exists(_._1 == name), s"no constraint named '$name'")
    commit(s"constraint:drop:$name", Seq.empty, Seq.empty,
      constraints = Some(cur.filterNot(_._1 == name)))
  }

  /** The active BLOOM FILTER INDEX (column → numBits). */
  def bloomIndex(): Map[String, Long] = snapshot().bloomIndex.toMap

  // ---- column mapping (rename / drop as metadata-only commits) --------
  //
  // The COLUMN MAPPING (Delta's column-mapping table feature,
  // `Snapshot.colmap`): logical name → the PHYSICAL name the data
  // files store. A column's physical name is fixed at creation;
  // `renameColumn` re-keys the logical side only (metadata commit —
  // zero files rewritten, old files keep reading, old-version time
  // travel returns epoch-correct names); `dropColumn` removes the
  // logical entry and TOMBSTONES the physical name so a later re-added
  // column of the same name can never resurrect the dropped data.
  // Empty mapping = identity (every pre-mapping table).

  /** True when version `v` reads through a non-identity column
    * mapping — the READER-FEATURE gate twin of [[hasDvAsOf]]: paths
    * serving raw parquet (the DSv2 format, the log-follower stream)
    * would surface PHYSICAL column names and must refuse instead.
    */
  def hasColMapAsOf(v: Long): Boolean = !snapshot(v).colmap.isIdentity

  /** The recorded partition keys at `v`, outermost directory first;
    * empty on flat tables and legacy partitioned logs.
    */
  private[graft] def partMetaAt(v: Long): Seq[GraftTable.PartMeta] =
    snapshot(v).partMeta

  /** The recorded protocol feature set at `v` (Delta's protocol row):
    * monotone — the high-water mark of every feature any commit ≤ v
    * activated. Empty on legacy logs.
    */
  def protocolAt(v: Long): Set[String] = snapshot(v).protocol

  /** The reader features ACTIVE at version `v` (see
    * [[Snapshot.activeReaderFeatures]]).
    */
  def activeReaderFeatures(v: Long): Set[String] =
    snapshot(v).activeReaderFeatures

  /** DROP FEATURE (Delta's `ALTER TABLE … DROP FEATURE`): the ONE
    * sanctioned shrink of the (otherwise monotone) protocol row —
    * allowed only once the feature is INACTIVE at the latest version
    * (DVs purged, column mapping back to identity, string-keyed
    * layout replaced), exactly Delta's two-step contract: deactivate
    * first, then drop explicitly. A metadata-only commit; returns the
    * new version.
    */
  def dropFeature(name: String): Long = {
    val base = snapshot()
    require(base.version > 0, s"no graft table at $root")
    val proto = base.protocol
    require(proto.contains(name),
      s"feature '$name' is not in the protocol row " +
        s"[${proto.toSeq.sorted.mkString(", ")}]")
    require(!base.activeReaderFeatures.contains(name),
      s"cannot drop '$name': the feature is still ACTIVE at v${base.version} — " +
        "deactivate first (purge() for deletionVectors, restore the " +
        "identity mapping for columnMapping, replace the string-keyed " +
        "layout for stringPartitionValues)")
    // stringPartitionValues: a carried partmeta row that still records
    // a string key would re-enter the implied-features union in this
    // very commit (the drop would silently no-op, ADVICE r13) — the
    // drop declares the string-keyed epoch over, so it also writes the
    // partmeta tombstone. Inactivity above guarantees no live value
    // dir carries the key, so no reader loses restore information.
    val clearPm = name == GraftTable.Features.StringPartitionValues &&
      base.partMeta.exists(_.tpe == StringType)
    commit(s"protocol:drop:$name", Seq.empty, Seq.empty,
      basedOn = Some(base.version), protocolOverride = Some(proto - name),
      clearPartMeta = clearPm)
  }

  /** The ONE reader-feature gate for raw-parquet serving paths (the
    * DSv2 snapshot scan, manifest export): refuses when any ACTIVE
    * feature of `v` is one a raw reader cannot apply, naming the
    * features in the recorded protocol vocabulary — new features add
    * a name here instead of re-inventing the gate (VERDICT r12 item
    * 6). Returns the refusal message rather than throwing so callers
    * that must defer the error to scan construction (the DSv2 path)
    * can.
    */
  private[sources] def rawReadRefusal(at: Snapshot, who: String): Option[String] = {
    val blocking = at.activeReaderFeatures intersect GraftTable.Features.RawBlocking
    if (blocking.isEmpty) None
    else Some(
      s"$who refused: graft table at $root (v${at.version}) requires active reader " +
        s"features [${blocking.toSeq.sorted.mkString(", ")}] (protocol " +
        s"[${at.protocol.toSeq.sorted.mkString(", ")}]) that a " +
        "raw-parquet reader cannot apply — deletionVectors would " +
        "resurrect deleted rows (run purge() first), columnMapping would " +
        "surface physical column names. Read through GraftTable.read()/" +
        "readVersion()/readWhere() instead")
  }

  /** The logical→physical column mapping (empty = identity). */
  def columnMapping(): Map[String, String] = snapshot().colmap.map

  /** df with its columns renamed logical → physical for STAGING
    * (files always store physical names).
    */
  private def toPhysical(df: DataFrame,
                         cm: GraftTable.ColMap): DataFrame =
    if (cm.isIdentity) df
    else df.select(df.columns.map(c =>
      df(c).as(cm.phys(c))).toIndexedSeq: _*)

  /** Predicate attribute names logical → physical, for evaluating
    * pushed/DML predicates against the PHYSICAL stats tokens.
    */
  private def physPred(e: org.apache.spark.sql.catalyst.expressions.Expression,
                       cm: GraftTable.ColMap)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    if (cm.isIdentity) e
    else e.transform {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.size == 1 =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          Seq(cm.phys(a.nameParts.head)))
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          Seq(cm.phys(a.name)))
    }

  /** Column names referenced by a single-line SQL expression (for
    * rename/drop safety checks against CHECK constraints).
    */
  private def referencedCols(exprSql: String): Set[String] =
    org.apache.spark.sql.graft.shim.catalystExpression(
      org.apache.spark.sql.functions.expr(exprSql)).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        a.name
    }.toSet

  /** RENAME COLUMN as a metadata-only commit (Delta's
    * `ALTER TABLE … RENAME COLUMN` under column mapping): the
    * reference's registry-migration story (`map_excel_to_db_columns`
    * app.py:5999 exists precisely because upstream columns get
    * renamed). No file is touched; reads of OLD versions return the
    * OLD name; DML and stats skipping keep working because every
    * physical access translates through the mapping.
    */
  def renameColumn(oldName: String, newName: String): Long = {
    val base = snapshot()
    require(base.version > 0, s"no graft table at $root")
    require(newName.nonEmpty && !newName.exists(c => c == '\t' || c == '\n'),
      s"bad column name: $newName")
    val sc = base.schema.getOrElse(throw new IllegalStateException(
      "renameColumn needs a recorded schema (legacy log)"))
    require(sc.fieldNames.contains(oldName),
      s"no column '$oldName' in ${sc.fieldNames.mkString(",")}")
    require(!sc.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"column '$newName' already exists")
    // payload renames are fine on a partitioned table (readers
    // translate); the PARTITION columns themselves are not in the
    // schema so renaming one already refuses above — but a payload
    // column must not take a key's name, or the path-restored column
    // would mask it
    base.partCols.foreach { pc =>
      require(!newName.equalsIgnoreCase(pc),
        s"'$pc' is a partition column (its values live in the file " +
          "paths) — a payload column cannot take its name")
    }
    base.constraints.find(c => referencedCols(c._2).contains(oldName))
      .foreach { c =>
        throw new IllegalArgumentException(
          s"cannot rename '$oldName': CHECK constraint '${c._1}' " +
            s"references it (drop the constraint first)")
      }
    val cm = base.colmap
    val next = GraftTable.ColMap(
      (cm.map - oldName) + (newName -> cm.phys(oldName)), cm.dead)
    val nextSchema = StructType(sc.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    commit(s"colmap:rename:$oldName>$newName", Seq.empty, Seq.empty,
      basedOn = Some(base.version), schema = Some(nextSchema), colmap = Some(next))
  }

  /** ADD COLUMN as a metadata-only commit (`ALTER TABLE … ADD
    * COLUMN`): the schema widens, every existing file reads null in
    * the new column, no data moves. Tombstone-aware: re-adding a
    * DROPPED name maps to a fresh physical column (never the old
    * data), same rule as the mergeSchema append path.
    */
  def addColumn(name: String, dt: DataType): Long = {
    val base = snapshot()
    require(base.version > 0, s"no graft table at $root")
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n'),
      s"bad column name: $name")
    val sc = base.schema.getOrElse(throw new IllegalStateException(
      "addColumn needs a recorded schema (legacy log)"))
    require(!sc.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"column '$name' already exists")
    base.partCols.foreach { pc =>
      require(!name.equalsIgnoreCase(pc),
        s"'$pc' is a partition column (its values live in the file " +
          "paths) — a payload column cannot take its name")
    }
    val cm = base.colmap
    val usedPhys = sc.fieldNames.map(cm.phys).toSet ++ cm.dead
    val next =
      if (!usedPhys.contains(name)) cm
      else cm.copy(map = cm.map +
        (name -> s"${name}_${java.util.UUID.randomUUID.toString.take(8)}"))
    commit(s"colmap:addcol:$name", Seq.empty, Seq.empty,
      basedOn = Some(base.version),
      schema = Some(StructType(sc.fields :+ StructField(name, dt))),
      colmap = Some(next))
  }

  /** DROP COLUMN as a metadata-only commit: the files keep the
    * physical column (column pruning means it is never read again),
    * the physical name is tombstoned so a later `mergeSchema` re-add
    * of the same logical name maps to a FRESH physical column — the
    * dropped data cannot resurrect.
    */
  def dropColumn(name: String): Long = {
    val base = snapshot()
    require(base.version > 0, s"no graft table at $root")
    val sc = base.schema.getOrElse(throw new IllegalStateException(
      "dropColumn needs a recorded schema (legacy log)"))
    require(sc.fieldNames.contains(name),
      s"no column '$name' in ${sc.fieldNames.mkString(",")}")
    require(sc.fields.length > 1, "cannot drop the last column")
    base.constraints.find(c => referencedCols(c._2).contains(name))
      .foreach { c =>
        throw new IllegalArgumentException(
          s"cannot drop '$name': CHECK constraint '${c._1}' references " +
            "it (drop the constraint first)")
      }
    val cm = base.colmap
    val phys = cm.phys(name)
    base.bloomIndex.find(_._1 == phys).foreach { _ =>
      throw new IllegalArgumentException(
        s"cannot drop '$name': it is bloom-indexed (setBloomIndex " +
          "without it first)")
    }
    val next = GraftTable.ColMap(cm.map - name, (cm.dead :+ phys).distinct)
    val nextSchema = StructType(sc.fields.filterNot(_.name == name))
    commit(s"colmap:drop:$name", Seq.empty, Seq.empty,
      basedOn = Some(base.version), schema = Some(nextSchema), colmap = Some(next))
  }

  /** CREATE BLOOMFILTER INDEX (Delta's bloom filter index, recorded
    * as a table property in the log). Every LATER write stages, for
    * each indexed column, (a) a parquet-NATIVE bloom filter inside
    * the data file — executors skip row groups on point predicates at
    * scan time with no log growth — and (b) a CAPPED `numBits`-bit
    * bloom in the add-action stats token, so the DRIVER prunes whole
    * files on `=` / `IN` during log resolution where min/max cannot
    * (high-cardinality columns uncorrelated with the file layout).
    * Existing files gain blooms on their next rewrite (compact /
    * zorder / DML), exactly like Delta's index-on-write. The inline
    * bloom degrades (never lies) past ~numBits/10 distinct values per
    * file; size numBits to the expected per-file cardinality.
    * Replaces the whole index set; metadata-only commit.
    */
  def setBloomIndex(cols: Seq[String], numBits: Long = 1 << 16): Long = {
    require(cols.nonEmpty, "setBloomIndex needs at least one column")
    require(numBits >= 64 && numBits <= (1L << 26),
      s"numBits out of range: $numBits")
    val base = snapshot()
    base.schema.foreach { sc =>
      cols.foreach { c =>
        val f = sc.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"bloom index column '$c' is not in the table schema"))
        require(bloomIndexable(f.dataType),
          s"bloom index on '$c' (${f.dataType.simpleString}) — only " +
            "integral and string columns are indexable")
      }
    }
    // stored under PHYSICAL names: the staged-file aggregation and
    // the stats-token probe both see physical columns, and a later
    // rename (logical-only) leaves the index intact
    val cm = base.colmap
    commit("constraint:bloomidx:set", Seq.empty, Seq.empty,
      bloomIdx = Some(cols.map(c => cm.phys(c) -> numBits)))
  }

  /** DROP BLOOMFILTER INDEX: metadata-only commit clearing the set
    * (already-staged blooms stay in their stats tokens — stale index
    * bytes, still sound — until the files are next rewritten).
    */
  def dropBloomIndex(): Long =
    commit("constraint:bloomidx:drop", Seq.empty, Seq.empty,
      bloomIdx = Some(Seq.empty))

  private def bloomIndexable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** Write-time CHECK enforcement: refuse the write if any incoming
    * row violates an active constraint (short-circuits on the first
    * violation; skipped entirely when no constraints exist). NULL
    * results count as violations (SQL CHECK accepts only TRUE).
    */
  private def enforceConstraints(df: DataFrame, action: String,
                                 at: Snapshot): Unit =
    at.constraints.foreach { case (name, sql) =>
      val ok = org.apache.spark.sql.functions.expr(sql)
      val bad = df.filter(
        !org.apache.spark.sql.functions.coalesce(ok,
          org.apache.spark.sql.functions.lit(false)))
      if (!bad.isEmpty) throw new IllegalArgumentException(
        s"$action violates CHECK constraint '$name' ($sql)")
    }

  // ---- reads ----------------------------------------------------------

  /** Latest committed snapshot. The file list is pinned at call time:
    * later commits (appends, compactions) do not perturb this
    * DataFrame — snapshot isolation.
    */
  def read(): DataFrame = readAt(snapshot())

  /** The rows of a pinned snapshot (deletion vectors applied). */
  private def readAt(at: Snapshot): DataFrame = readLive(at, at.files.keys.toSeq)

  /** The live files of version `v` as absolute paths — the snapshot
    * a reader (readVersion, or the `graft` DataSource) scans. May be
    * empty (e.g. a deleteWhere that emptied the table): the version
    * is still readable through [[readVersion]]'s recorded schema.
    */
  def filesAsOf(v: Long): Seq[String] = {
    require(v >= 1 && fs.exists(commitPath(v)),
      s"version $v does not exist (have: ${versions().mkString(",")})")
    snapshot(v).files.keys.toSeq.sorted.map(absOf)
  }

  /** Absolute path of a recorded add path: EXTERNAL entries (a
    * shallow clone's references into its source table) are stored
    * absolute and pass through; table-local entries resolve under
    * root. Every consumer of a live-set path goes through this, so
    * a clone's external files read/prune/probe/rewrite exactly like
    * local ones.
    */
  private[sources] def absOf(rel: String): String =
    if (GraftTable.isExternal(rel)) rel else s"$root/$rel"

  /** Time travel: the table exactly as committed at version `v`.
    * Reads through the schema RECORDED at `v` when the log has one —
    * so old-version reads return the old schema across an additive
    * evolution, files predating a widened schema read as nulls in the
    * new columns, and a legitimately EMPTY version returns an empty
    * DataFrame instead of failing inference on zero files.
    */
  def readVersion(v: Long): DataFrame = {
    require(v >= 1 && fs.exists(commitPath(v)),
      s"version $v does not exist (have: ${versions().mkString(",")})")
    readAt(snapshot(v))
  }

  // ---- deletion-vector-aware reads ------------------------------------

  /** The dv/probe FILE KEY: the last two path components
    * ("<uuiddir>/part-…" flat, "<part>=<v>/part-…" partitioned).
    * One component is NOT enough — stagePartitioned writes the same
    * part numbers under every value dir of one job, so basenames
    * collide across partitions; two components are unique because the
    * staging dir (or value dir + job uuid) disambiguates.
    */
  private def fileKey(rel: String): String = {
    // derive from the ABSOLUTE path: probe-side keys (`__fn` =
    // substring_index(_metadata.file_path, '/', -2), bloom tokens
    // keyed by input_file_name) are always two components of the abs
    // path, and a CONVERTED flat table's rel paths have only ONE
    // component ("part-….parquet" at the table root), so keying on
    // the rel string would never match the probe. For staged layouts
    // (data/<uuid>/…) the last two components of rel and abs are
    // identical, so this is a strict generalization.
    val a = absOf(rel)
    val i = a.lastIndexOf('/')
    val j = if (i <= 0) -1 else a.lastIndexOf('/', i - 1)
    a.substring(j + 1)
  }

  /** THE reader of the table's own data files — every read, rewrite
    * and change feed goes through it, so column mapping, deletion
    * vectors and partition keys are served by one rule:
    *   1. SCHEMA: files store PHYSICAL names; they are read through
    *      the recorded (logical) schema `sc` mapped by `cm`, so a
    *      renamed column keeps its data, a re-added name reads its
    *      fresh physical column (null in older files) and files that
    *      predate an addColumn read null there. `sc = None` (legacy
    *      log) infers from the footers;
    *   2. LOGICAL NAMES: a non-identity `cm` projects each physical
    *      column back to its logical name, in `sc`'s order;
    *   3. DELETION VECTORS: files without a dv scan straight through
    *      Spark's parquet reader; files with one read WITH their
    *      per-file row position (`_metadata.file_path` /
    *      `_metadata.row_index` — stable because table files are
    *      immutable) and anti-join the dv's dead (file, position)
    *      pairs, so marked rows vanish without the data file ever being
    *      rewritten (Delta's merge-on-read scan). The dv side is
    *      sidecar-sized — AQE broadcasts it; tables without dvs never
    *      plan the anti-join;
    *   4. PARTITION KEYS: each of `keys` is restored from the row's
    *      file path ([[partRestore]]) and appended after the payload,
    *      on the scan itself (before any dv join, where
    *      input_file_name still resolves).
    * `keepPos` retains (__fn, __ri) on every row — the MoR writers'
    * probe reads use it to name the positions they mark dead.
    * dv keying is by [[fileKey]] (asserted unique below — a collision
    * would mask rows in the wrong file).
    */
  private def readMeta(metaSeq: Seq[(String, FileMeta)],
                       sc: Option[StructType],
                       cm: GraftTable.ColMap,
                       keys: Seq[GraftTable.PartMeta] = Seq.empty,
                       keepPos: Boolean = false)
      : DataFrame = {
    import org.apache.spark.sql.functions.col
    val (dvd, plain) = metaSeq.sortBy(_._1).partition(_._2.dv.isDefined)
    def posCols(st: StructType) =
      st.add("__fn", StringType).add("__ri", LongType)
    def readP(paths: Seq[String], pos: Boolean): DataFrame = {
      val payload =
        if (paths.isEmpty) {
          val st = sc.getOrElse(sys.error(
            "empty live set and no recorded schema (legacy log) — " +
              "nothing to infer a schema from"))
          s.createDataFrame(s.sparkContext.emptyRDD[Row],
            if (pos) posCols(st) else st)
        } else {
          // derive the pos columns while _metadata is still resolvable,
          // then project back to the LOGICAL names
          val raw = sc match {
            case Some(st) =>
              s.read.schema(cm.physical(st)).parquet(paths.map(absOf): _*)
            case None => s.read.parquet(paths.map(absOf): _*)
          }
          // _metadata.file_path serves the URI form — the on-disk name
          // percent-ENCODED once more (a string-partition value dir
          // `c=a%3Db` arrives as `c=a%253Db`) — while fileKey/byBaseName
          // key on the raw path, so the probe key decodes that one URI
          // layer (URI encoding never encodes '/', so splitting first is
          // component-safe; under integer-valued layouts the decode is a
          // no-op)
          val withPos =
            if (pos) raw.withColumn("__fn",
              graft.functions.GraftFunctions.path_unescape(
                org.apache.spark.sql.functions.substring_index(
                  col("_metadata.file_path"), "/", -2)))
              .withColumn("__ri", col("_metadata.row_index"))
            else raw
          sc match {
            case Some(st) if !cm.isIdentity =>
              withPos.select((st.fields.map(f =>
                col(cm.phys(f.name)).as(f.name)) ++
                (if (pos) Seq(col("__fn"), col("__ri")) else Nil))
                .toIndexedSeq: _*)
            case _ => withPos
          }
        }
      keys.foldLeft(payload)((acc, pm) =>
        acc.withColumn(pm.col, partRestore(pm.col, pm.tpe)))
    }
    if (dvd.isEmpty) readP(plain.map(_._1), keepPos)
    else {
      val names = dvd.map(f => fileKey(f._1))
      require(names.distinct.size == names.size,
        "dv-carrying data files must have distinct file keys " +
          s"(collision among: ${names.diff(names.distinct).take(3)})")
      import s.implicits._
      // restrict each dv's rows to the files it is CURRENTLY attached
      // to: a superseded dv shared across files may carry positions
      // for a file that re-attached elsewhere (restore)
      val dead = s.read
        .parquet(dvd.flatMap(_._2.dv.map(d => absOf(d.path)))
          .distinct: _*)
        .join(names.toDF("__file"), "__file")
      val d0 = readP(dvd.map(_._1), pos = true)
      val masked = d0.join(dead,
        d0("__fn") === dead("__file") && d0("__ri") === dead("__pos"),
        "left_anti")
      val cleaned = if (keepPos) masked else masked.drop("__fn", "__ri")
      if (plain.isEmpty) cleaned
      else readP(plain.map(_._1), keepPos).unionByName(cleaned)
    }
  }

  /** [[readMeta]] over the live files `paths` of `at`, under its
    * recorded schema and column mapping; `keys` restores every
    * partition column of the layout (the DML, rewrite and
    * `readPartitionedColumn` shape — `read()` and `readPartitions`
    * serve none).
    */
  private def readLive(at: Snapshot, paths: Seq[String],
                       keys: Boolean = false,
                       keepPos: Boolean = false): DataFrame =
    readMeta(paths.map(p => p -> at.files(p)), at.schema, at.colmap,
      if (!keys) Seq.empty
      else at.partCols.map(pc =>
        GraftTable.PartMeta(pc, partTypeOf(pc, paths, at))),
      keepPos)

  /** The newest version committed at or before `tsMillis` — the
    * TIMESTAMP AS OF resolution (commit wall-clocks are recorded in
    * each log header; pre-round-9 logs read as epoch 0 and resolve
    * to nothing). None if the table didn't exist yet.
    */
  def versionAt(tsMillis: Long): Option[Long] =
    versions().filter { v =>
      val ts = readHeaderTs(v) // header line only — never the body
      ts >= 0 && ts <= tsMillis // pre-ts commits never match (doc'd)
    }.lastOption

  /** A commit's wall-clock from its header line alone — resolution
    * stays O(versions × one line), not O(versions × commit body)
    * (an overwrite/compact commit's body lists every file it swaps).
    */
  private def readHeaderTs(v: Long): Long = {
    val in = fs.open(commitPath(v))
    try {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, "UTF-8"))
      val hdr = br.readLine().split("\t", 4)
      if (hdr.length >= 4) hdr(3).toLong else -1L
    } finally in.close()
  }

  /** Time travel by wall-clock: the table as of `tsMillis`. */
  def readTimestampAsOf(tsMillis: Long): DataFrame =
    readVersion(versionAt(tsMillis).getOrElse(sys.error(
      s"no commit at or before $tsMillis in $root")))

  /** Per-version audit trail: (version, action, n_added, n_removed,
    * bytes_added) — the commit log as a queryable DataFrame.
    */
  def history(): DataFrame = {
    import s.implicits._
    versions().map { v =>
      val c = readCommit(v)
      (v, c.action, c.adds.size.toLong, c.removes.size.toLong,
        c.adds.map(_.bytes).sum, c.tsMillis)
    }.toDF("version", "action", "n_added", "n_removed", "bytes_added",
      "committed_at_ms")
  }

  /** The free-form `info` line a verb recorded in commit `v` (e.g.
    * mergeInto's source-strategy choice) — Delta's
    * operationParameters, queryable per version. None on commits
    * that recorded nothing.
    */
  def commitInfo(v: Long): Option[String] = readCommit(v).info

  /** Live parquet files (relative path, bytes) at the latest version. */
  def liveFiles(): Seq[(String, Long)] =
    snapshot().files.toSeq.map { case (p, m) => (p, m.bytes) }.sorted

  /** Live files with their logged row counts and dv state —
    * (path, bytes, n_rows from the stats token or null, has_dv) —
    * the `graft_files` SQL table function's payload.
    */
  def liveFileMeta(): Seq[(String, Long, Option[Long], Boolean)] =
    snapshot().files.toSeq.sortBy(_._1).map { case (p, m) =>
      (p, m.bytes, m.stats.flatMap(FileStats.numRows), m.dv.isDefined)
    }

  /** Table statistics FROM THE LOG — no file is opened: (row count if
    * every live file carries stats, total bytes, file count). The
    * metadata-only `COUNT(*)` every lakehouse serves (Delta answers
    * it from add-action stats the same way); at millions of files
    * this is an O(checkpoint) log read instead of a cluster job.
    */
  def tableStats(): (Option[Long], Long, Int) = {
    val live = snapshot().files.values.toSeq
    // a deletion vector's cardinality subtracts from its file's stats
    // row count — the logged count names the PHYSICAL rows
    val rows = live.foldLeft(Option(0L)) { (acc, m) =>
      for (a <- acc; st <- m.stats; n <- FileStats.numRows(st))
        yield a + n - m.dv.map(_.nDeleted).getOrElse(0L)
    }
    (if (live.isEmpty) Some(0L) else rows, live.map(_.bytes).sum, live.size)
  }

  /** Metadata-only row count (None when a legacy file lacks stats —
    * fall back to `read().count()`).
    */
  def countRows(): Option[Long] = tableStats()._1

  // ---- log-level data skipping ---------------------------------------

  /** The live files at the latest version that MAY contain rows
    * matching `pred`, decided from the per-file min/max/null stats
    * recorded in the commit log — file-level DATA SKIPPING during log
    * resolution, before any parquet footer is opened (Delta's
    * stats-based pruning). Files without stats (legacy commits,
    * unsupported column types) are conservatively kept, so the pruned
    * list is always a superset of the matching rows' files.
    */
  def prunedFiles(pred: Column): Seq[String] = {
    val at = snapshot()
    statsCandidates(at.files,
      org.apache.spark.sql.graft.shim.catalystExpression(pred),
      at.colmap).map(absOf)
  }

  /** Filtered read that plans ONLY the stats-surviving files (then
    * re-applies `pred` exactly — skipping is an optimization, never
    * the filter). At millions of files a selective predicate prunes
    * the file list in the driver for the cost of reading O(K) log
    * files, instead of opening every footer at scan time.
    */
  def readWhere(pred: Column): DataFrame = {
    val at = snapshot()
    val survivors = statsCandidates(at.files,
      org.apache.spark.sql.graft.shim.catalystExpression(pred), at.colmap)
    // a legacy log (no recorded schema) infers from every live file
    readLive(at,
      if (survivors.isEmpty && at.schema.isEmpty) at.files.keys.toSeq
      else survivors).filter(pred)
  }

  // ---- writes ---------------------------------------------------------

  /** Stage `df` as immutable uniquely-named data files; returns their
    * (relpath, bytes). Data lands BEFORE any commit references it, so
    * a crash here leaves only unreferenced files (vacuum's job).
    */
  private def freshSub() =
    s"$DataDir/${java.util.UUID.randomUUID.toString.take(12)}"

  private def listStaged(sub: String): Seq[(String, Long)] =
    fs.listStatus(new Path(rootPath, sub)).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => (s"$sub/${f.getPath.getName}", f.getLen))

  /** Data files always store PHYSICAL column names — staging maps the
    * (logical) frame through the active column mapping. Callers that
    * are introducing NEW columns (mergeSchema append) pass the
    * already-updated mapping explicitly.
    */
  private def stage(df: DataFrame, at: Snapshot,
                    cmOpt: Option[GraftTable.ColMap] = None)
      : Seq[(String, Long)] = {
    val cm = cmOpt.getOrElse(at.colmap)
    val sub = freshSub()
    bloomWrite(toPhysical(df, cm).write, at).parquet(s"$root/$sub")
    listStaged(sub)
  }

  /** Attach parquet-NATIVE bloom filter write options for the active
    * bloom index — executors then skip row groups on point predicates
    * at scan time (parquet-mr's own bloom evaluation under the pushed
    * filters) with zero log growth. The driver-side half of the index
    * rides the stats token ([[statsOf]]).
    */
  private def bloomWrite(w: org.apache.spark.sql.DataFrameWriter[
      org.apache.spark.sql.Row], at: Snapshot) =
    at.bloomIndex.foldLeft(w) { case (w0, (c, _)) =>
      w0.option(s"parquet.bloom.filter.enabled#$c", "true")
    }

  /** Footer-derived stats for each staged file — an O(files) metadata
    * read (row-group footers only, never data pages), folded into the
    * commit's add-actions so later reads can skip at the log level.
    * When a bloom index is active, each token additionally carries a
    * capped per-file bloom per indexed column ([[bloomTokens]]).
    */
  private def statsOf(adds: Seq[(String, Long)],
                      at: Snapshot): Map[String, String] = {
    // footers are independent files — read them concurrently (a merge
    // or compaction staging hundreds of files would otherwise serialize
    // hundreds of driver round-trips; r19, guide §1.2 driver-side work)
    val footer = {
      import scala.collection.parallel.CollectionConverters._
      adds.par.flatMap { case (rel, _) =>
        FileStats.fromFooter(new Path(rootPath, rel), conf).map(rel -> _)
      }.seq.toMap
    }
    val idx = at.bloomIndex
    if (idx.isEmpty || footer.isEmpty) footer
    else {
      val blooms = bloomTokens(adds, idx)
      footer.map { case (rel, json) =>
        rel -> blooms.get(fileKey(rel))
          .map(b => FileStats.withBlooms(json, b)).getOrElse(json)
      }
    }
  }

  /** One column-pruned aggregation over the freshly-staged files:
    * per (file, indexed column), Spark's own BloomFilterAggregate
    * over `xxhash64(cast(col as long))` (strings hash as-is) — the
    * runtime-filter encoding, so [[FileStats]] probes literals with
    * the identical hash. Keyed by the two-component [[fileKey]] — a
    * BASENAME is not unique within one PARTITIONED write job
    * (stagePartitioned emits the same part numbers under every value
    * dir), and a basename collision would attach one arbitrary file's
    * bloom to all of them, silently pruning files that contain the
    * queried value. Cost is proportional to the WRITE, never the
    * table, and only the indexed columns are scanned.
    */
  private def bloomTokens(adds: Seq[(String, Long)],
                          idx: Seq[(String, Long)])
      : Map[String, Map[String, (String, String)]] = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val shim = org.apache.spark.sql.graft.shim
    val df = s.read.parquet(adds.map(a => s"$root/${a._1}"): _*)
    val present = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val usable = idx.filter { case (c, _) =>
      present.get(c).exists(bloomIndexable) }
    if (usable.isEmpty) return Map.empty
    val aggs = usable.map { case (c, bits) =>
      val child = present(c) match {
        case StringType => shim.expression(col(c))
        case _ => Cast(shim.expression(col(c)), LongType)
      }
      shim.column(new BloomFilterAggregate(XxHash64(Seq(child), 42L),
        Literal(math.max(1L, bits / 10)), Literal(bits))
        .toAggregateExpression()).as(c)
    }
    df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
      .map { r =>
        val cols = usable.zipWithIndex.flatMap { case ((c, _), i) =>
          Option(r.get(i + 1)).map { b =>
            c -> (java.util.Base64.getEncoder.encodeToString(
              b.asInstanceOf[Array[Byte]]),
              if (present(c) == StringType) "string" else "long")
          }
        }.toMap
        // input_file_name is URI-encoded on top of the on-disk name
        // (readMeta's __fn rule) — decode that layer so the key
        // matches fileKey(relpath) under escaped partition dirs
        fileKey(GraftTable.unescapePartValue(r.getString(0))) -> cols
      }.toMap
  }

  /** Single-winner atomic publish of `bytes` at `dst`: stage to tmp,
    * then hard-link (local fs — POSIX link(2) fails atomically if dst
    * exists) or rename (HDFS — namenode-atomic, false if dst exists).
    * Readers can never observe a partially-written commit file.
    * Filesystems whose rename is NOT single-winner (object stores:
    * s3a/gcs/abfs do check-then-copy, so two racers can both believe
    * they won and a commit is silently lost) are refused outright
    * unless the caller sets `graft.logstore.unsafe=true` — the same
    * per-filesystem whitelist discipline as Delta's LogStore.
    */
  private def publish(dst: Path, bytes: Array[Byte]): Boolean = {
    val scheme = fs.getScheme
    require(AtomicRenameSchemes.contains(scheme) ||
      conf.getBoolean("graft.logstore.unsafe", false),
      s"filesystem scheme '$scheme' has no atomic single-winner rename — " +
        "two concurrent writers could silently lose a commit. Use " +
        "file/hdfs/viewfs, or set graft.logstore.unsafe=true to accept " +
        "single-writer-only operation on this store")
    val tmp = new Path(logDir, s".${dst.getName}.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    out.write(bytes); out.close()
    val won =
      if (scheme == "file") {
        val t = java.nio.file.Paths.get(tmp.toUri.getPath)
        val d = java.nio.file.Paths.get(dst.toUri.getPath)
        try { java.nio.file.Files.createLink(d, t); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else fs.rename(tmp, dst)
    fs.delete(tmp, false)
    won
  }

  /** Optimistic-concurrency commit loop. `removes` must still be live
    * at the winning version's predecessor — appends (no removes) can
    * always retry; a compact whose victims were removed by a
    * concurrent commit aborts with ConcurrentModificationException.
    * `basedOn` makes a commit SERIALIZABLE against its read version:
    * replace-class commits (overwrite / replacePartitions / restore /
    * merge / delete) compute their remove-set against a snapshot, and
    * if ANY commit lands in between, "replace everything in scope"
    * would silently let the concurrent files survive — Delta aborts
    * that as a write conflict, and so does this (the caller re-reads
    * and retries). `stats` carries per-file footer stats for the adds,
    * `schema` the post-commit table schema (carried forward from the
    * predecessor when not given), `cdf` the staged row-level change
    * images of a DML commit.
    *
    * `tolerateAppends` is Delta's WriteSerializable conflict rule for
    * row-level DML: a merge/delete's remove-set names SPECIFIC files,
    * so a concurrent blind APPEND cannot invalidate it — the appended
    * rows simply committed after the DML's snapshot and are not
    * subject to it. With the flag, an advance whose intervening
    * commits are ALL append-class re-resolves and proceeds (the
    * removes-still-live check below still guards). Intervening
    * FILE-SCOPED rewrites (another merge/delete/update, a compact, a
    * purge, a zorder) commute at FILE granularity: they conflict only
    * when a file they rewrote or dv-marked intersects this commit's
    * `readFiles` ∪ `removes` ∪ dv targets (Delta's
    * ConcurrentDeleteRead/ConcurrentDeleteDelete rule — two DMLs on
    * disjoint file sets both land; OPTIMIZE runs concurrently with
    * DML elsewhere in the table). Whole-scope commits (overwrite /
    * replacePartitions / restore), constraint changes and schema
    * drift always abort a staged commit. Whole-scope replaces never
    * set the flag themselves: an intervening append's files would
    * silently survive "replace everything".
    *
    * `readFiles` is the commit's READ set — the files scanned to
    * compute its writes (a DML's stats-pruned candidates, a superset
    * of its touched files). A concurrent rewrite of a merely-READ
    * file invalidates the computation (the probe's "no matching rows
    * here" may no longer hold) even though this commit does not
    * rewrite it.
    *
    * Each attempt lists the log once and reads the predecessor's state
    * from its snapshot. `idempotent` marks a [[tagged]] verb's
    * commit: when the predecessor already carries its action
    * (`<prefix>@<tag>`) the call is a replay — it deletes the files it
    * staged, publishes nothing, and [[tagged]] turns it into a no-op.
    * Other actions may contain '@' too (a column name in `zorder:` or
    * `colmap:`), so only a tagged call is checked.
    */
  private[graft] def commit(action: String, adds: Seq[(String, Long)],
                            removes: Seq[String],
                            idempotent: Boolean = false,
                            basedOn: Option[Long] = None,
                            stats: Map[String, String] = Map.empty,
                            schema: Option[StructType] = None,
                            cdf: Seq[(String, Long)] = Seq.empty,
                            tolerateAppends: Boolean = false,
                            constraints: Option[Seq[(String, String)]] = None,
                            dvs: Seq[(String, DvRef)] = Seq.empty,
                            readFiles: Seq[String] = Seq.empty,
                            bloomIdx: Option[Seq[(String, Long)]] = None,
                            reschema: Option[Snapshot => StructType] = None,
                            colmap: Option[GraftTable.ColMap] = None,
                            partMeta: Option[Seq[GraftTable.PartMeta]] = None,
                            clearPartMeta: Boolean = false,
                            protocolOverride: Option[Set[String]] = None,
                            info: Option[String] = None)
      : Long = {
    if (!fs.exists(logDir)) fs.mkdirs(logDir)
    var attempt = 0
    while (attempt < MaxRetries) {
      val l = log()
      val prev = l.latest
      basedOn.foreach { b =>
        if (prev != b) {
          // an intervening append that CHANGED the schema (mergeSchema
          // evolution) is a conflict too: committing the DML's staged
          // files under the old schema would silently narrow the table
          lazy val baseSchemaJson = resolve(b, l).schema.map(_.json)
          def fileScoped(a: String) = GraftTable.isMergeAction(a) ||
            a == "delete" || a == "update" || a == "compact" ||
            a == "purge" || a.startsWith("zorder:")
          val inter =
            if (tolerateAppends)
              l.versions.filter(v => v > b && v <= prev).map(readCommit)
            else Seq.empty
          val hard =
            if (!tolerateAppends) Seq((prev, "untracked"))
            else inter.collect {
              case c if c.schemaJson.isDefined &&
                  c.schemaJson != baseSchemaJson =>
                (c.version, s"${c.action}(schema-changed)")
              case c if !c.action.startsWith("append") &&
                  !fileScoped(c.action) =>
                (c.version, c.action)
            }
          if (hard.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"$action write conflict: table advanced v$b -> v$prev " +
                "while the replacement was being staged" +
                (if (tolerateAppends) s" (conflicting commits in between: " +
                  hard.map(x => s"v${x._1}=${x._2}").mkString(",") + ")"
                 else ""))
          // file-granular commute check: an intervening file-scoped
          // rewrite conflicts only where its rewritten/dv-marked files
          // meet this commit's read or write scope
          val scope = (readFiles ++ removes ++ dvs.map(_._1)).toSet
          val overlap = inter.filter(c => fileScoped(c.action))
            .flatMap(c => (c.removes ++ c.dvs.map(_._1)).filter(scope))
          if (overlap.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"$action write conflict: a concurrent commit rewrote " +
                s"files in this commit's scope: " +
                overlap.take(3).mkString(","))
        }
      }
      val at = resolve(prev, l)
      if (idempotent && at.tags(action)) {
        // a replay: what this call staged will never be referenced
        (adds ++ cdf).foreach(a => deleteStaged(a._1))
        throw TagReplayed
      }
      if (removes.nonEmpty || dvs.nonEmpty) {
        val live = at.files.keySet
        // a dv targets a SPECIFIC live file like a remove does: if a
        // concurrent commit rewrote/removed that file, the positions
        // no longer name the rows they were computed from — abort.
        // (a dv attaching to a file this SAME commit re-adds — restore
        // re-establishing dv state — is exempt: the add makes it live)
        val addSet = adds.map(_._1).toSet
        val gone = (removes ++ dvs.map(_._1).filterNot(addSet))
          .filterNot(live)
        if (gone.nonEmpty) throw new java.util.ConcurrentModificationException(
          s"$action conflicts: files no longer live: ${gone.take(3).mkString(",")}")
      }
      val v = prev + 1
      // `reschema` re-derives the post-commit schema against the
      // CURRENT predecessor on every retry of the race loop (see
      // append): a fixed `schema` computed before the loop can go
      // stale when a concurrent schema-evolving commit wins a version
      val sch = reschema.map(f => f(at)).map(Some(_))
        .getOrElse(schema.orElse(at.schema))
      val cons = constraints.getOrElse(at.constraints)
      val bIdx = bloomIdx.getOrElse(at.bloomIndex)
      val cm = colmap.getOrElse(at.colmap)
      val pm =
        if (clearPartMeta) partMeta // an epoch change (flat overwrite,
        // restore to a pre-partitioned version): the caller's value —
        // possibly none — REPLACES the carried row
        else partMeta.orElse(Some(at.partMeta).filter(_.nonEmpty))
      // the protocol row is MONOTONE: the predecessor's features plus
      // whatever this commit activates (Delta's protocol discipline —
      // a feature, once required, stays recorded even if later state
      // deactivates it; the gates refuse on ACTIVE state only).
      // `protocolOverride` is the ONE sanctioned shrink — the explicit
      // DROP FEATURE verb, which has already checked inactivity; the
      // implied-features union below still re-adds anything this very
      // commit activates, so a drop can never race a re-activation.
      val proto = protocolOverride.getOrElse(at.protocol) ++
        (if (dvs.nonEmpty) Set(GraftTable.Features.DeletionVectors)
         else Set.empty) ++
        (if (!cm.isIdentity) Set(GraftTable.Features.ColumnMapping)
         else Set.empty) ++
        (if (pm.exists(_.exists(_.tpe == StringType)))
          Set(GraftTable.Features.StringPartitionValues)
         else Set.empty) ++
        (if (info.isDefined) Set(GraftTable.Features.CommitInfo)
         else Set.empty)
      // WRITER-feature gate (round 18): refuse to commit to a table
      // whose protocol row names a `w:` feature this binary does not
      // implement — the read side stays open (w: features never
      // block readers), but interleaving commits into a log whose
      // write invariants we don't know would corrupt it.
      val unknownW = proto
        .filter(_.startsWith(GraftTable.Features.WriterPrefix))
        .diff(GraftTable.Features.SupportedWriter)
      require(unknownW.isEmpty,
        s"commit refused: graft table at $root requires writer " +
          s"features [${unknownW.toSeq.sorted.mkString(", ")}] that " +
          "this writer does not implement — upgrade the writer binary " +
          "(reads remain available; writer features never gate reads)")
      // free-form operation parameters (Delta's operationParameters):
      // key=value pairs a verb wants auditable — e.g. mergeInto's
      // source-strategy choice. Never load-bearing for resolution.
      info.foreach(i =>
        require(!i.contains('\t') && !i.contains('\n'), s"bad info: $i"))
      val c = Commit(v, action,
        adds.map { case (p, n) => AddFile(p, n, stats.get(p)) },
        removes, cdf, sch.map(_.json),
        if (cons.nonEmpty || constraints.isDefined)
          Some(GraftTable.constraintsToJson(cons)) else None,
        System.currentTimeMillis(), dvs,
        if (bIdx.nonEmpty || bloomIdx.isDefined)
          Some(GraftTable.bloomIdxToJson(bIdx)) else None,
        if (!cm.isIdentity || colmap.isDefined)
          Some(GraftTable.colmapToJson(cm)) else None,
        pm.map(GraftTable.partMetaToJson)
          .orElse(if (clearPartMeta) Some(GraftTable.PartMetaTombstone) else None),
        // an explicit override must be written even when it shrinks to
        // EMPTY — "no line" means carry-forward to the resolution, and
        // a dropped-to-empty row would otherwise resurrect
        if (proto.nonEmpty || protocolOverride.isDefined)
          Some(GraftTable.protocolToJson(proto)) else None,
        info)
      if (publish(commitPath(v), c.text.getBytes(UTF_8))) {
        commitCache.put(v, c)
        val next = at(c)
        remember(next)
        if (v % CheckpointEvery == 0) writeCheckpoint(next)
        return v
      }
      attempt += 1 // lost the race — re-resolve and try the next version
    }
    sys.error(s"commit $action lost $MaxRetries consecutive version races")
  }

  /** Order-free (name, type) signature for schema compatibility. */
  private def sig(sch: StructType) =
    sch.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq

  /** The post-commit schema of an append-class write, enforcing
    * compatibility with the recorded table schema: exact (order-free)
    * match by default — a mismatched commit would poison every later
    * read — or ADDITIVE EVOLUTION with `mergeSchema=true`: new columns
    * append to the schema (old files read as null there), common
    * columns must keep their type. Delta's mergeSchema rule.
    */
  private def appendSchema(df: StructType, mergeSchema: Boolean,
                           at: Snapshot): StructType = {
    val incoming = org.apache.spark.sql.graft.shim.nullable(df)
    at.schema match {
      case None => incoming
      case Some(cur) =>
        if (sig(cur) == sig(incoming)) cur
        else if (!mergeSchema)
          throw new IllegalArgumentException(
            s"schema mismatch appending to graft table at $root: table has " +
              s"${cur.simpleString}, batch has ${incoming.simpleString}; " +
              "pass mergeSchema=true for additive evolution")
        else {
          val curNames = cur.fieldNames.toSet
          incoming.fields.filter(f => curNames.contains(f.name)).foreach { f =>
            val t = cur(f.name).dataType
            require(t == f.dataType,
              s"mergeSchema cannot change column '${f.name}' from " +
                s"${t.simpleString} to ${f.dataType.simpleString}")
          }
          StructType(cur.fields ++
            incoming.fields.filterNot(f => curNames.contains(f.name)))
        }
    }
  }

  /** Append `df` as a new commit; returns the committed version.
    * `mergeSchema=true` allows ADDITIVE schema evolution (new columns
    * recorded in the commit's schema; earlier files read as nulls
    * there — old-version time travel keeps the old schema).
    */
  def append(df: DataFrame, mergeSchema: Boolean = false): Long = {
    val base = snapshot()
    appendSchema(df.schema, mergeSchema, base) // fail fast, before staging
    enforceConstraints(df, "append", base)
    // a FLAT append onto a hive-partitioned layout stages files with
    // no value dirs — the partition-subset readers (token-matched at
    // the log) would silently MISS those rows on every pruned read.
    // Refuse loudly (the round-13 self-review's gap; compact() and
    // the z-order rewrite already had this guard). Keyed on the
    // RECORDED partmeta row, not just live paths (ADVICE r13): a
    // partitioned table emptied by deleteWhere still refuses until
    // the epoch is explicitly ended.
    val pcs = base.partCols
    if (pcs.nonEmpty)
      throw new IllegalArgumentException(
        s"table is hive-partitioned on '${pcs.mkString(", ")}' — a flat " +
          "append would stage files outside the value dirs and pruned " +
          "reads would miss them; use appendPartitioned(df, " +
          s"Seq(${pcs.map("\"" + _ + "\"").mkString(", ")}))")
    // physical names for columns NEW to the table: identity unless
    // the name is TOMBSTONED (a dropped column once stored under it —
    // its data must never resurrect) or already used physically by a
    // renamed column; those get a fresh suffixed physical name
    val cm0 = base.colmap
    val existing = base.schema.map(_.fieldNames.toSet)
      .getOrElse(Set.empty)
    val usedPhys = base.schema
      .map(_.fieldNames.map(cm0.phys).toSet).getOrElse(Set.empty) ++
      cm0.dead
    val freshEntries = df.schema.fieldNames
      .filterNot(existing).filter(_ => existing.nonEmpty)
      .collect { case c if usedPhys.contains(c) =>
        c -> s"${c}_${java.util.UUID.randomUUID.toString.take(8)}"
      }
    val cmNew =
      if (freshEntries.isEmpty) cm0
      else cm0.copy(map = cm0.map ++ freshEntries)
    val adds = stage(df, base, Some(cmNew))
    // the recorded schema is re-derived INSIDE the commit loop against
    // the winning predecessor: an append racing a concurrent
    // mergeSchema append that widened the table must re-merge (or
    // abort) rather than commit the stale narrower schema at a later
    // version — which would silently drop the new column from every
    // subsequent read
    commit("append", adds, Seq.empty, stats = statsOf(adds, base),
      reschema = Some(prev => appendSchema(df.schema, mergeSchema, prev)),
      colmap = if (freshEntries.isEmpty) None else Some(cmNew))
  }

  /** Stage `df` hive-partitioned by `partCols`; relpaths carry the
    * partition directories (data/<uuid>/bucket=3/part-… ), which is
    * what lets replacePartitions/readPartitions prune at the LOG
    * level — no filesystem listing, no partition discovery scan.
    */
  private def stagePartitioned(df: DataFrame, partCols: Seq[String],
                               at: Snapshot): Seq[(String, Long)] = {
    // payload columns stage under PHYSICAL names exactly like the
    // flat `stage` (the partition column is never in the recorded
    // schema or the mapping, so its name — and the value dirs — pass
    // through unchanged); the partition-subset readers translate back
    // to logical on read
    val sub = s"$DataDir/${java.util.UUID.randomUUID.toString.take(12)}"
    bloomWrite(toPhysical(df, at.colmap).write, at)
      .partitionBy(partCols: _*).parquet(s"$root/$sub")
    def walk(p: Path, rel: String): Seq[(String, Long)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val r = s"$rel/${st.getPath.getName}"
        if (st.isDirectory) walk(st.getPath, r)
        else if (st.getPath.getName.endsWith(".parquet")) Seq((r, st.getLen))
        else Seq.empty
      }
    walk(new Path(rootPath, sub), sub)
  }

  /** The schema recorded for a partitioned stage: the DataFrame minus
    * its partition columns (their values live in the file PATHS, not
    * the file contents — readPartitionedColumn restores them from the
    * path).
    */
  private def partitionedSchema(df: DataFrame, partCols: Seq[String]) =
    org.apache.spark.sql.graft.shim.nullable(
      StructType(df.schema.fields.filterNot(f => partCols.contains(f.name))))

  /** Partition-column types the layer supports: integral and date
    * values are path-safe verbatim; STRING values stage escaped
    * (Spark's own hive-path escaping) and restore through the
    * codegen'd unescape. Anything else (float, decimal, binary,
    * nested) refuses — lossy path round-trips would corrupt restore.
    */
  private def partMetaOf(df: DataFrame, partCols: Seq[String])
      : Seq[GraftTable.PartMeta] = {
    require(partCols.nonEmpty, "at least one partition column required")
    require(partCols.distinct.size == partCols.size,
      s"duplicate partition columns: ${partCols.mkString(",")}")
    partCols.map { partCol =>
      val f = df.schema.fields.find(_.name == partCol).getOrElse(
        throw new IllegalArgumentException(
          s"no partition column '$partCol' in ${df.columns.mkString(",")}"))
      f.dataType match {
        case LongType | IntegerType | ShortType | ByteType | StringType |
             DateType => GraftTable.PartMeta(partCol, f.dataType)
        case other => throw new IllegalArgumentException(
          s"unsupported partition column type $other for '$partCol' — " +
            "partition values live in file paths; integral, string and " +
            "date columns round-trip, others would corrupt on restore")
      }
    }
  }

  /** The log-level match token of one partition value: escaped
    * exactly as partitionBy stages the value dir. Long/date values
    * are escape fixed points, so one code path serves every type.
    */
  private def partToken(partCol: String, value: String): String =
    s"/$partCol=${GraftTable.escapePartValue(value)}/"

  /** The partition column's restore TYPE: the recorded partmeta row
    * when present; else (legacy pre-partmeta log) LONG — after
    * validating every live token of `pc` is integral, so a legacy
    * string layout fails loudly instead of restoring null.
    */
  private def partTypeOf(pc: String, live: Iterable[String],
                         at: Snapshot): DataType =
    at.partMeta.find(_.col == pc).map(_.tpe).getOrElse {
      val pat = s"/${java.util.regex.Pattern.quote(pc)}=([^/]+)/".r
      live.iterator
        .flatMap(p => pat.findFirstMatchIn("/" + p).map(_.group(1)))
        .find(t => scala.util.Try(t.toLong).isFailure)
        .foreach(t => throw new IllegalStateException(
          s"partition token '$pc=$t' is not integral and the log records " +
            "no partition metadata — re-land through appendPartitioned " +
            "or adopt with CONVERT (both record the partition type)"))
      LongType
    }

  /** The partition column RESTORED from each row's file path: raw
    * token via one regexp_extract, then cast (integral/date) or
    * unescape (string, codegen'd; the null-sentinel dir maps back to
    * null — Hive/Delta's convention). `input_file_name` serves the
    * path in URI form — the hive-escaped dir name URI-ENCODED on top
    * (measured: dir `c=a%3Db` arrives as `c=a%253Db`, a space as
    * `%20`, while `+` and non-ASCII pass through raw) — so the exact
    * inverse is the `%XX` hex decode applied TWICE: each encode layer
    * escapes '%' itself, so double-decode inverts double-encode for
    * every value, including values containing literal '%XX' text.
    * (NOT `url_decode`, which would corrupt a literal '+' to a space
    * — neither encoding layer touches '+'.)
    */
  private def partRestore(pc: String, tpe: DataType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{input_file_name, lit, regexp_extract, when}
    val raw = regexp_extract(input_file_name(),
      java.util.regex.Pattern.quote(s"/$pc=") + "([^/]+)/", 1)
    tpe match {
      case StringType =>
        val unesc = graft.functions.GraftFunctions.path_unescape(
          graft.functions.GraftFunctions.path_unescape(raw))
        when(unesc === GraftTable.HiveDefaultPartition,
          lit(null).cast("string")).otherwise(unesc)
      case t =>
        when(raw === GraftTable.HiveDefaultPartition,
          lit(null).cast(t.catalogString))
          .otherwise(raw.cast(t.catalogString))
    }
  }

  /** Guard a partitioned write against the existing layout: on a
    * non-empty (or recorded-partitioned) table the incoming key list
    * must be the SAME ordered columns with the SAME recorded types —
    * mixing `bucket=…` and `country=…` value dirs, reordering a
    * two-key nesting, or re-typing a key would make restore ambiguous
    * for every reader at once.
    */
  private def requirePartConsistent(pms: Seq[GraftTable.PartMeta],
                                    base: Snapshot): Unit = {
    val existing = base.partCols
    if (existing.nonEmpty)
      require(existing == pms.map(_.col),
        s"table is hive-partitioned on '${existing.mkString(", ")}' — " +
          s"cannot stage a batch partitioned on " +
          s"'${pms.map(_.col).mkString(", ")}'")
    val rec = base.partMeta
    pms.foreach { pm =>
      rec.find(_.col == pm.col).foreach { r =>
        require(r.tpe == pm.tpe,
          s"partition column '${pm.col}' is recorded as ${r.tpe
            .catalogString} — cannot re-type it to ${pm.tpe.catalogString}")
      }
    }
  }

  /** Hive-partitioned append as ONE atomic (optionally
    * tagged-idempotent) commit — the partition-preserving form of
    * `append`/`appendIdempotent` for tables whose readers prune on a
    * partition column (the ANN index's cell-routed codes): the
    * commit's adds carry the partition directories, so
    * [[readPartitions]]/[[readPartitionedColumn]] prune at the log.
    * Records each partition column's name and TYPE (partmeta row), so
    * string-valued keys (`country=India`) restore as strings.
    */
  def appendPartitioned(df: DataFrame, partCol: String,
                        tag: String = null): Option[Long] =
    appendPartitioned(df, Seq(partCol), tag)

  /** Multi-key form: `partCols` is the ORDERED key list (outermost
    * value dir first — `Seq("country", "source")` stages
    * `country=…/source=…/part-…`). Real fact layouts are multi-key
    * (`date=…/hour=…`; the reference's Master_data is
    * (Country, Source)) — every subset reader then prunes on ANY of
    * the keys.
    */
  def appendPartitioned(df: DataFrame, partCols: Seq[String],
                        tag: String): Option[Long] =
    tagged("append", tag) { (a, base) =>
      enforceConstraints(df, "appendPartitioned", base)
      val pms = partMetaOf(df, partCols)
      requirePartConsistent(pms, base)
      val payload = partitionedSchema(df, partCols)
      appendSchema(payload, mergeSchema = false, base) // fail fast
      val adds = stagePartitioned(df, partCols, base)
      // compat is re-checked against the winning predecessor: a
      // partitioned batch with renamed/missing/retyped columns must
      // NOT silently re-record the schema and retroactively change
      // how earlier files read
      commit(a, adds, Seq.empty, idempotent = true,
        stats = statsOf(adds, base),
        reschema = Some(prev => appendSchema(payload, false, prev)),
        partMeta = Some(pms))
    }

  /** Replace the whole live set with `df`, hive-partitioned — the
    * partition-preserving `overwrite` (an index REBUILD commit).
    */
  def overwritePartitioned(df: DataFrame, partCol: String): Long =
    overwritePartitioned(df, Seq(partCol))

  /** Multi-key form of [[overwritePartitioned]] (ordered key list). */
  def overwritePartitioned(df: DataFrame, partCols: Seq[String]): Long = {
    val base = snapshot()
    enforceConstraints(df, "overwritePartitioned", base)
    val pms = partMetaOf(df, partCols)
    val removes = base.files.keys.toSeq
    val adds = stagePartitioned(df, partCols, base)
    commit("overwrite", adds, removes, basedOn = Some(base.version),
      stats = statsOf(adds, base),
      schema = Some(partitionedSchema(df, partCols)),
      partMeta = Some(pms))
  }

  /** The distinct values of a partition column across the live set,
    * parsed from the logged relpaths — no filesystem listing.
    */
  def partitionValues(partCol: String): Seq[Long] = {
    val pat = s"/${java.util.regex.Pattern.quote(partCol)}=(-?\\d+)/".r
    snapshot().files.keys
      .flatMap(p => pat.findFirstMatchIn("/" + p).map(_.group(1).toLong))
      .toSeq.distinct.sorted
  }

  /** Per-partition summary of the LATEST live set — (column, type,
    * logical value, n_files, bytes) — parsed from the logged
    * relpaths with the recorded partmeta type (the `graft_partitions`
    * TVF's payload). ONE row per (key, value): a two-key layout
    * reports each key's value census independently. Empty on flat
    * tables; the null-sentinel dir reports as null. Driver-side
    * O(live files × keys), no listing, no scan.
    */
  def partitionSummary(): Seq[(String, String, String, Long, Long)] = {
    val at = snapshot()
    val live = at.files
    Snapshot.partColsOf(live.keys).flatMap { pc =>
      val tpe = partTypeOf(pc, live.keys, at)
      val pat = s"/${java.util.regex.Pattern.quote(pc)}=([^/]+)/".r
      live.toSeq
        .flatMap { case (p, m) =>
          pat.findFirstMatchIn("/" + p).map(_.group(1) -> m.bytes) }
        .groupBy(_._1).toSeq
        .map { case (tok, fs) =>
          val value =
            if (tok == GraftTable.HiveDefaultPartition) null
            else GraftTable.unescapePartValue(tok)
          (pc, tpe.catalogString, value, fs.size.toLong,
            fs.map(_._2).sum)
        }
        .sortBy(r => Option(r._3))
    }
  }

  /** [[partitionValues]] for string-keyed layouts: the distinct
    * UNESCAPED values (the null-sentinel dir reports as null).
    */
  def partitionValuesString(partCol: String): Seq[String] = {
    val pat = s"/${java.util.regex.Pattern.quote(partCol)}=([^/]+)/".r
    snapshot().files.keys
      .flatMap(p => pat.findFirstMatchIn("/" + p).map(_.group(1)))
      .toSeq.distinct
      .map(t => if (t == GraftTable.HiveDefaultPartition) null
                else GraftTable.unescapePartValue(t))
      .sortBy(v => Option(v)) // nulls first, stable
  }

  /** The partition-subset readers' core: the latest live files under
    * any of `values`' value dirs of `partCol` (logical, unescaped —
    * the partToken contract), read through [[readLive]]. None if
    * nothing matches.
    */
  private def readPartitionTokens(partCol: String, values: Seq[String],
                                  keys: Boolean): Option[DataFrame] = {
    val at = snapshot()
    val tokens = values.map(v => partToken(partCol, v))
    val files = at.files.keys.filter(p => tokens.exists(("/" + p).contains)).toSeq
    if (files.isEmpty) None else Some(readLive(at, files, keys))
  }

  /** Read the named partitions WITH every partition column of the
    * layout restored (on a multi-key table the caller filtered on
    * `country` but still needs `source`): ONE scan over the
    * log-pruned file list, each value parsed back from the row's file
    * path — no per-value scan fan-out, no directory listing. None if
    * nothing matches.
    */
  def readPartitionedColumn(partCol: String,
                            values: Seq[Long]): Option[DataFrame] =
    readPartitionTokens(partCol, values.map(_.toString), keys = true)

  /** [[readPartitionedColumn]] for string-keyed layouts: `values` are
    * the logical (unescaped) strings; matching and restore go through
    * the hive escaping, so `country=South:1` prunes and restores
    * exactly.
    */
  def readPartitionedColumnString(partCol: String,
                                  values: Seq[String]): Option[DataFrame] =
    readPartitionTokens(partCol, values, keys = true)

  /** Dynamic-partition-overwrite as ONE atomic commit (Delta's
    * replaceWhere): every live file under `partCol` ∈ `values` is
    * logically removed and `df`'s freshly-partitioned files take
    * their place — the bucket-registry MERGE shape (s7): a
    * micro-batch rewrites ONLY the partitions its keys hash into,
    * the untouched registry is never read or copied, and no reader
    * can observe the half-swapped state. Rows of `df` OUTSIDE the
    * declared `values` are rejected before staging (Delta's
    * replaceWhere validation): they would otherwise be silently
    * committed as appends inside a 'replace' commit. `tag` makes a
    * replayed micro-batch a no-op (appendIdempotent's rule); pass
    * null for an untagged replace. Returns the version, or None if
    * the tag was already committed.
    */
  def replacePartitions(df: DataFrame, partCol: String, values: Seq[Long],
                        tag: String = null): Option[Long] =
    replacePartitionTokens(df, partCol, values.map(_.toString), tag)

  /** [[replacePartitions]] for string-keyed layouts (`values` are the
    * logical, unescaped strings).
    */
  def replacePartitionsString(df: DataFrame, partCol: String,
                              values: Seq[String],
                              tag: String = null): Option[Long] =
    replacePartitionTokens(df, partCol, values, tag)

  private def replacePartitionTokens(df: DataFrame, partCol: String,
                                     values: Seq[String],
                                     tag: String): Option[Long] =
    tagged("replace", tag) { (action, base) =>
      // on a multi-key table the replace SCOPE is one key's values,
      // but the staged files must carry ALL layout keys or pruned
      // reads on the other keys would miss the rewritten rows
      val existing = base.partCols
      val partCols = if (existing.isEmpty) Seq(partCol) else existing
      require(partCols.contains(partCol),
        s"'$partCol' is not a partition column of the layout " +
          s"(${partCols.mkString(", ")})")
      val pms = partMetaOf(df, partCols)
      requirePartConsistent(pms, base)
      val tokens = values.map(v => partToken(partCol, v))
      val removes = base.files.keys
        .filter(p => tokens.exists(("/" + p).contains)).toSeq
      enforceConstraints(df, "replacePartitions", base)
      // files of OTHER partitions survive this commit, so the payload
      // schema must stay compatible with what they were written under
      appendSchema(partitionedSchema(df, partCols),
        mergeSchema = false, base)
      val adds = stagePartitioned(df, partCols, base)
      val outOfScope = adds.map(_._1)
        .filterNot(p => tokens.exists(("/" + p).contains))
      if (outOfScope.nonEmpty) {
        adds.map(_._1.split("/").take(2).mkString("/")).distinct
          .foreach(sub => fs.delete(new Path(rootPath, sub), true))
        throw new IllegalArgumentException(
          s"replacePartitions($partCol in ${values.mkString(",")}) got rows " +
            s"outside the declared scope: ${outOfScope.take(3).mkString(",")}" +
            " — the commit would silently append them inside a 'replace'")
      }
      commit(action, adds, removes, idempotent = true,
        basedOn = Some(base.version),
        stats = statsOf(adds, base),
        schema = Some(partitionedSchema(df, partCols)),
        partMeta = Some(pms))
    }

  /** The escaped value-dir CHAIN of one relpath under the layout's
    * ordered keys, as an exact containment token ("/c1=v1/c2=v2/") —
    * the unit dynamic overwrite and replaceWhere address. None when
    * the path carries no full chain (flat staging), which the
    * partitioned-layout guards make unreachable for live files.
    */
  private def chainTokenOf(rel: String, pcs: Seq[String]): Option[String] = {
    val segs = rel.split("/").dropRight(1).toSeq.collect {
      case GraftTable.PartSegment(k, v) if pcs.contains(k) => (k, v)
    }
    if (segs.map(_._1) == pcs)
      Some(segs.map { case (k, v) => s"$k=$v" }.mkString("/", "/", "/"))
    else None
  }

  /** Filter escaped value-dir chains by a partition predicate: one
    * driver-local row per chain (typed values, null-sentinel mapped),
    * the predicate evaluated by Spark itself over that local frame —
    * O(live partitions) rows, no table scan, and the evaluation
    * semantics (null handling, casts, date comparisons) are exactly
    * the engine's own.
    */
  private def evalChainPredicate(chains: Seq[String],
                                 pms: Seq[GraftTable.PartMeta],
                                 predicate: Column): Set[String] = {
    if (chains.isEmpty) return Set.empty
    val schema = StructType(
      StructField("__chain", StringType, nullable = false) +:
        pms.map(pm => StructField(pm.col, pm.tpe, nullable = true)))
    val rows = chains.map { ch =>
      val kvs = ch.split("/").collect {
        case GraftTable.PartSegment(k, v) => (k, v)
      }.toMap
      val vals = pms.map { pm =>
        val tok = kvs(pm.col)
        if (tok == GraftTable.HiveDefaultPartition) null
        else {
          val raw = GraftTable.unescapePartValue(tok)
          pm.tpe match {
            case StringType => raw
            case DateType => java.sql.Date.valueOf(raw)
            case LongType => java.lang.Long.valueOf(raw.toLong)
            case IntegerType => java.lang.Integer.valueOf(raw.toInt)
            case ShortType => java.lang.Short.valueOf(raw.toShort)
            case ByteType => java.lang.Byte.valueOf(raw.toByte)
            case other => throw new IllegalStateException(
              s"unsupported partition type ${other.catalogString}")
          }
        }
      }
      org.apache.spark.sql.Row.fromSeq(ch +: vals)
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .filter(predicate).select("__chain")
      .collect().map(_.getString(0)).toSet
  }

  /** Delta's `replaceWhere`, partition-predicate form: every live
    * file whose value-dir chain satisfies `predicate` is logically
    * removed and `df`'s freshly-partitioned files take their place —
    * ONE serializable commit, untouched partitions' files never read,
    * rewritten, or copied. This is the daily-backfill verb
    * [[replacePartitions]]' hand-enumerated values can't express:
    * "restate everything in this date range" is one predicate, and on
    * a multi-key table a conjunction (`ostatus = 'F' AND oyear = …`)
    * addresses a single CELL of the layout — single-key scoping
    * can't.
    *
    * Contract (Delta's): the predicate may reference ONLY partition
    * columns (refused otherwise — a payload-column replaceWhere
    * would need a row-level rewrite of matched files, which is
    * [[deleteWhere]] + append territory); every incoming row must
    * satisfy the predicate (refused before staging — silently landing
    * out-of-scope rows inside a 'replace' would corrupt partitions
    * the commit claims untouched). Rows may target chains with no
    * live files yet (a backfill that introduces a new period replaces
    * nothing there, it just lands). `tag` gives micro-batch replay
    * idempotence; null for untagged.
    *
    * `cdfImages` (round 16 — Delta's CDF-enablement semantics, OFF by
    * default exactly because the delete side must READ the replaced
    * scope, a cost the plain replace never pays): when true the
    * commit stages row-level images — `delete` for every replaced
    * row, `insert` for the incoming batch — so [[changeFeed]] and the
    * CDF stream serve ACROSS the backfill instead of refusing, and an
    * incremental consumer downstream of a monthly re-land (the
    * reference's `sync_tags` app.py:6631 over Master_data) replays
    * deltas instead of full-rebuilding.
    *
    * `mergeSchema` (round 16, Delta's schema.autoMerge on DML):
    * additive new columns in the batch join the recorded schema;
    * survivor rewrites and untouched files simply lack them and the
    * snapshot read null-fills (the evolved-append rule); type
    * conflicts refuse loudly.
    */
  def replaceWhere(predicate: Column, df: DataFrame,
                   tag: String = null,
                   cdfImages: Boolean = false,
                   mergeSchema: Boolean = false): Option[Long] =
    tagged("replace", tag) { (action, base) =>
      val pcs = base.partCols
      // unresolved-tree walk, not .references: the predicate's columns
      // aren't bound to any plan yet
      val refs = org.apache.spark.sql.graft.shim
        .catalystExpression(predicate).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
        case a: org.apache.spark.sql.catalyst.expressions
            .AttributeReference => a.name
      }.distinct
      // two regimes, Delta's exact split: a predicate over partition
      // columns alone replaces whole value-dir CHAINS at the file
      // level (untouched partitions never read); anything else — a
      // payload predicate, a mixed one, or any predicate on a FLAT
      // table — is the ROW-LEVEL form (Delta 2.0's "arbitrary
      // replaceWhere"): matched rows rewrite copy-on-write, the new
      // batch lands, one serializable commit
      // persist across the validate-then-stage window: constraints,
      // requireSatisfies and staging each re-execute the plan — a
      // non-deterministic batch (rand(), re-read mutable source)
      // could otherwise PASS validation and then stage different
      // rows, violating the predicate the commit claims enforced
      // (Delta enforces replaceWhere on the same evaluation it writes)
      val pinned = df.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (pcs.nonEmpty &&
            refs.forall(r => pcs.exists(_.equalsIgnoreCase(r))))
          replaceChains(action, base, pcs, predicate, pinned, cdfImages,
            mergeSchema)
        else
          replaceRows(action, base, predicate, pinned, cdfImages,
            mergeSchema)
      } finally { pinned.unpersist(); () }
    }

  /** The row-level images of a replace commit (CDF-enabled path):
    * every replaced row as `delete`, the incoming batch as `insert` —
    * Delta serves replaceWhere/dynamic-overwrite exactly this way when
    * CDF is on. allowMissingColumns: the delete side reads the
    * PRE-replace schema.
    */
  private def replaceImages(removedRows: Option[DataFrame],
                            incoming: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val ins = incoming.withColumn(ChangeTypeCol, lit("insert"))
    removedRows match {
      case Some(dels) => dels.withColumn(ChangeTypeCol, lit("delete"))
        .unionByName(ins, allowMissingColumns = true)
      case None => ins
    }
  }

  /** The file-level (partition-predicate) replaceWhere regime. */
  private def replaceChains(action: String, base: Snapshot, pcs: Seq[String],
                            predicate: Column, df: DataFrame,
                            cdfImages: Boolean = false,
                            mergeSchema: Boolean = false): Long = {
    val pms = partMetaOf(df, pcs)
    requirePartConsistent(pms, base)
    enforceConstraints(df, "replaceWhere", base)
    requireSatisfies(predicate, df)
    val live = base.files.keys.toSeq
    val matched = evalChainPredicate(
      live.flatMap(p => chainTokenOf(p, pcs)).distinct, pms, predicate)
    val removes = live.filter(p =>
      chainTokenOf(p, pcs).exists(matched.contains))
    // files of non-matching partitions survive this commit: the
    // payload schema must stay compatible with what they carry
    // (additive evolution allowed when mergeSchema=true — survivors
    // simply lack the new columns and the read null-fills)
    val validated = appendSchema(partitionedSchema(df, pcs),
      mergeSchema, base)
    // evolution guard (ADVICE r16): replaceWhere stages new columns
    // under identity physical names, so tombstoned / collision names
    // must refuse here exactly as merge/mergeInto do — an evolved
    // replace must never resurrect a dropped column's data from the
    // untouched files
    requireEvolvableFresh(validated.fieldNames.filterNot(n =>
      base.schema.exists(_.fieldNames.exists(_.equalsIgnoreCase(n))))
      .toSeq, base)
    val adds = stagePartitioned(df, pcs, base)
    // CDF (opt-in): the ONLY read of the replaced files this regime
    // ever performs — the delete images need their rows
    val cdf =
      if (!cdfImages) Seq.empty
      else stageCdf(replaceImages(
        if (removes.isEmpty) None
        else Some(new DmlScope(base).read(removes.sorted)), df))
    commit(action, adds, removes, idempotent = true,
      basedOn = Some(base.version),
      stats = statsOf(adds, base),
      schema = Some(validated),
      partMeta = Some(pms), cdf = cdf)
  }

  /** The ROW-LEVEL replaceWhere regime (Delta 2.0's arbitrary
    * predicates): [[rewriteWhere]] keeps each touched file's
    * NON-matching rows (restaged under their full value-dir chains on
    * partitioned tables), and the incoming batch lands beside them —
    * all in ONE serializable 'replace' commit. Untouched files are
    * never read (deleteWhere's pruning, replace's atomicity). Works on
    * flat tables too — an atomic "restate everything in this key
    * range" needs no partition layout.
    */
  private def replaceRows(action: String, base: Snapshot,
                          predicate: Column, df: DataFrame,
                          cdfImages: Boolean = false,
                          mergeSchema: Boolean = false): Long = {
    val d = new DmlScope(base)
    val pc = base.partCols
    if (pc.nonEmpty) requirePartConsistent(partMetaOf(df, pc), base)
    enforceConstraints(df, "replaceWhere", base)
    requireSatisfies(predicate, df)
    val payloadSchema =
      if (pc.isEmpty) org.apache.spark.sql.graft.shim.nullable(df.schema)
      else partitionedSchema(df, pc)
    val validated = appendSchema(payloadSchema, mergeSchema, base)
    // evolution guard (ADVICE r16): same tombstone/collision refusal
    // as the chain regime — see replaceChains
    requireEvolvableFresh(validated.fieldNames.filterNot(n =>
      base.schema.exists(_.fieldNames.exists(_.equalsIgnoreCase(n))))
      .toSeq, base)
    // survivors = rows NOT matching — which includes rows where the
    // predicate evaluates NULL (Delta keeps them via
    // Not(EqualNullSafe(cond, true))); a bare !predicate would
    // silently DROP null-evaluating rows from the CoW rewrite
    // CDF (opt-in): delete images are exactly the matched rows of the
    // touched files, staged beside their rewrite
    val w = rewriteWhere("replaceWhere", d, predicate, d.candidates(predicate))(
      _.filter(notMatching(predicate)),
      rows => if (!cdfImages) None
              else Some(replaceImages(Some(rows.filter(predicate)), df)))
    val incoming = jobPhase("replaceWhere: stage batch")(dmlStage(df, base))
    val cdf = w.map(_.cdf).getOrElse(
      if (!cdfImages) Seq.empty
      else jobPhase("replaceWhere: stage CDF images")(
        stageCdf(replaceImages(None, df))))
    commit(action, w.toSeq.flatMap(_.adds) ++ incoming,
      w.toSeq.flatMap(_.touched), idempotent = true,
      basedOn = Some(base.version),
      stats = w.fold(Map.empty[String, String])(_.stats) ++ statsOf(incoming, base),
      schema = Some(validated),
      partMeta = if (pc.isEmpty) None else Some(partMetaOf(df, pc)),
      cdf = cdf)
  }

  /** The ONE DML schema-evolution name guard (shared by merge,
    * mergeInto, replaceWhere both regimes): a column NEW to the table
    * may not reuse a TOMBSTONED physical name — DML staging stores it
    * under the identity physical name, so a dropped column's data in
    * untouched old files would silently RESURRECT under the re-added
    * name — and may not collide with a renamed column's physical
    * name (two logical columns would read the same physical field).
    * `append(mergeSchema=true)` stays the evolution path for those
    * names: it assigns a fresh suffixed physical name.
    */
  private def requireEvolvableFresh(fresh: Seq[String], base: Snapshot): Unit = {
    if (fresh.isEmpty) return
    val cm = base.colmap
    val physInUse = base.schema
      .map(_.fieldNames.map(cm.phys).toSet).getOrElse(Set.empty)
    fresh.foreach { n =>
      require(!cm.dead.exists(_.equalsIgnoreCase(n)),
        s"column '$n' was dropped earlier — its physical name is " +
          "tombstoned; evolve via append(mergeSchema=true), which " +
          "assigns a fresh physical name")
      require(!physInUse.exists(_.equalsIgnoreCase(n)),
        s"column '$n' collides with the physical name of a renamed " +
          "column; evolve via append(mergeSchema=true), which " +
          "assigns a fresh physical name")
    }
  }

  /** The DML survivor filter: rows where `pred` is FALSE **or NULL**
    * — SQL's three-valued logic means `!pred` alone would silently
    * drop null-evaluating rows from a CoW rewrite. Delta expresses
    * the same set as `Not(EqualNullSafe(cond, true))`.
    */
  private def notMatching(pred: Column): Column = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    not(coalesce(pred, lit(false)))
  }

  /** Delta's replaceWhere validation, shared by both regimes: rows
    * violating the predicate refuse BEFORE staging — they would be
    * silently committed outside the declared replace scope.
    */
  private def requireSatisfies(predicate: Column, df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val bad = df.filter(not(coalesce(predicate, lit(false))))
      .limit(1).count()
    require(bad == 0L,
      "replaceWhere got rows violating the predicate — they would be " +
        "silently committed outside the declared replace scope " +
        "(Delta's replaceWhere validation)")
  }

  /** Spark's `partitionOverwriteMode=dynamic` as a verb: replace
    * exactly the value-dir chains PRESENT in `df` — the standard
    * daily-backfill shape ("overwrite the partitions of the incoming
    * batch, list nothing by hand") — in one serializable commit.
    * Untouched chains' files are never read or restaged. The scope is
    * discovered from the STAGED files themselves, so it is exactly
    * the set of chains the incoming rows actually produced.
    */
  def overwritePartitionsDynamic(df: DataFrame,
                                 tag: String = null,
                                 cdfImages: Boolean = false): Option[Long] =
    tagged("replace", tag) { (action, base) =>
      val pcs = base.partCols
      require(pcs.nonEmpty,
        "dynamic partition overwrite needs a hive-partitioned table — " +
          "on a flat table use overwrite() (whole-set replace)")
      val pms = partMetaOf(df, pcs)
      requirePartConsistent(pms, base)
      enforceConstraints(df, "overwritePartitionsDynamic", base)
      appendSchema(partitionedSchema(df, pcs), mergeSchema = false, base)
      val adds = stagePartitioned(df, pcs, base)
      val incoming = adds.map(_._1).flatMap(chainTokenOf(_, pcs)).toSet
      val removes = base.files.keys.toSeq.filter(p =>
        chainTokenOf(p, pcs).exists(incoming.contains))
      // CDF (opt-in): replaceWhere's image rule — replaced chains'
      // rows as delete, the batch as insert (see replaceImages)
      val cdf =
        if (!cdfImages) Seq.empty
        else stageCdf(replaceImages(
          if (removes.isEmpty) None
          else Some(new DmlScope(base).read(removes.sorted)), df))
      commit(action, adds, removes, idempotent = true,
        basedOn = Some(base.version),
        stats = statsOf(adds, base),
        schema = Some(partitionedSchema(df, pcs)),
        partMeta = Some(pms), cdf = cdf)
    }

  /** Read ONLY the named partitions' live files — pruned from the
    * log, so a probe of 2 of 1000 buckets opens 2 buckets' files and
    * never lists or plans the other 998. Empty result (no such
    * partitions yet) returns None — the caller supplies its own
    * empty frame with the right schema.
    */
  def readPartitions(partCol: String, values: Seq[Long]): Option[DataFrame] =
    // no key restore: callers key on real columns and re-derive the
    // partition value (s7 recomputes pmod(user_id, n))
    readPartitionTokens(partCol, values.map(_.toString), keys = false)

  /** [[readPartitions]] for string-keyed layouts. */
  def readPartitionsString(partCol: String,
                           values: Seq[String]): Option[DataFrame] =
    readPartitionTokens(partCol, values, keys = false)

  /** Exactly-once streaming append: the tag (a micro-batch id) is
    * recorded in the commit action, and a replayed batch whose tag is
    * already committed is a no-op — a checkpoint-restarted
    * foreachBatch sink lands each batch exactly once without any sink
    * -side dedup state. Tags are read from the snapshot the call pins
    * (checkpoint tag ledger + later commits: restart-safe,
    * vacuum-safe) and re-checked against the predecessor of the
    * version the commit publishes, so a tag another writer or
    * instance committed meanwhile is still a replay.
    */
  def appendIdempotent(df: DataFrame, tag: String): Option[Long] = {
    require(tag != null, "appendIdempotent needs a tag; use append")
    tagged("append", tag) { (a, base) =>
      appendSchema(df.schema, mergeSchema = false, base) // fail fast
      enforceConstraints(df, "appendIdempotent", base)
      val adds = stage(df, base)
      commit(a, adds, Seq.empty, idempotent = true,
        stats = statsOf(adds, base),
        reschema =
          Some(prev => appendSchema(df.schema, mergeSchema = false, prev)))
    }
  }

  /** Schema-compat gate for the DSv2 streaming sink, run at query
    * START (fail fast, not epochs later): same rule as `append`.
    * No-op on a not-yet-created table (streaming BOOTSTRAP).
    */
  private[sources] def validateAppendSchema(sch: StructType): Unit = {
    appendSchema(sch, mergeSchema = false, snapshot())
    ()
  }

  /** The PHYSICAL file schema the streaming sink's writers must stage
    * under (column mapping applied) — rows carry no names, so only
    * the parquet schema needs translating.
    */
  private[sources] def physicalWriteSchema(sch: StructType): StructType =
    snapshot().colmap.physical(sch)

  /** One micro-batch of the DSv2 STREAMING WRITE: the executor-staged
    * files (already under the table root) land as ONE idempotent-
    * tagged append commit — s15's foreachBatch discipline behind
    * `writeStream.format("graft")`. A checkpoint-replayed epoch finds
    * its tag in the ledger, DELETES its re-staged duplicates and
    * no-ops — exactly-once across restart. CHECK constraints are
    * enforced against the staged files before the commit (one
    * column-pruned scan of the EPOCH, never the table); a violation
    * aborts the epoch with the staged files removed.
    */
  private[sources] def commitStreamEpoch(staged: Seq[String], tag: String,
                                         sch: StructType): Option[Long] =
    commitStagedFiles(staged, sch, tag = Some(tag), overwrite = false)

  /** Land executor-staged parquet files (already under the table
    * root, PHYSICAL column names) as ONE commit — the shared tail of
    * the DSv2 STREAMING SINK (tagged epoch append) and the DSv2
    * BATCH WRITE (SQL `INSERT INTO` append / `INSERT OVERWRITE`
    * whole-set replace / CTAS). Constraints are enforced against the
    * staged files before the commit (one column-pruned scan of the
    * BATCH, never the table); a violation removes the staged files
    * and aborts.
    */
  private[sources] def commitStagedFiles(staged: Seq[String],
                                         sch: StructType,
                                         tag: Option[String] = None,
                                         overwrite: Boolean = false,
                                         dynamic: Boolean = false)
      : Option[Long] = {
    val adds = staged.sorted.map { rel =>
      (rel, fs.getFileStatus(new Path(rootPath, rel)).getLen)
    }
    val base = snapshot()
    try {
      if (base.constraints.nonEmpty && adds.nonEmpty) {
        // staged files carry PHYSICAL names; constraints are logical.
        // EXCEPT on overwrite: the batch writer stages overwrite files
        // under the new schema's own LOGICAL names (the commit resets
        // column mapping with the live set — GraftStreamingWrite
        // `if (overwrite) schema`), so the constraint read must use
        // the identity mapping or a renamed column reads back all-null
        // and a valid INSERT OVERWRITE aborts on a phantom violation.
        enforceConstraints(
          readMeta(adds.map { case (p, n) => p -> FileMeta(n, None) },
            Some(org.apache.spark.sql.graft.shim.nullable(sch)),
            if (overwrite) GraftTable.ColMap.empty else base.colmap),
          "stagedWrite", base)
      }
    } catch {
      case e: Throwable =>
        adds.foreach(a => deleteStaged(a._1)); throw e
    }
    if (dynamic) {
      // dynamic INSERT OVERWRITE (partitionOverwriteMode=dynamic):
      // replace exactly the value-dir chains the batch's staged files
      // landed under — one serializable commit, untouched chains'
      // files never read or restaged. Files staged under PHYSICAL
      // names like an append (other partitions' files survive, so the
      // recorded schema and mapping must keep serving them).
      val pcs = base.partCols
      if (pcs.isEmpty) {
        adds.foreach(a => deleteStaged(a._1))
        throw new UnsupportedOperationException(
          "dynamic partition overwrite needs a hive-partitioned table — " +
            "this table is flat; INSERT OVERWRITE (static) replaces it")
      }
      val incoming = adds.map(_._1)
        .flatMap(p => chainTokenOf(p, pcs)).toSet
      val removes = base.files.keys.toSeq.filter(p =>
        chainTokenOf(p, pcs).exists(incoming.contains))
      Some(commit("replace", adds, removes, basedOn = Some(base.version),
        stats = statsOf(adds, base),
        reschema = Some(prev =>
          appendSchema(sch, mergeSchema = false, prev))))
    } else if (overwrite) {
      // whole-set replace (INSERT OVERWRITE): serializable like the
      // overwrite verb — any intervening commit aborts. Column
      // mapping resets with the live set, matching `overwrite`.
      Some(commit("overwrite", adds, base.files.keys.toSeq,
        basedOn = Some(base.version), stats = statsOf(adds, base),
        schema = Some(org.apache.spark.sql.graft.shim.nullable(sch)),
        colmap = Some(GraftTable.ColMap.empty)))
    } else tag match {
      case Some(t) =>
        tagged("append", t, base = base,
          onReplay = () => adds.foreach(a => deleteStaged(a._1))) { (a, _) =>
          commit(a, adds, Seq.empty, idempotent = true,
            stats = statsOf(adds, base),
            reschema = Some(prev =>
              appendSchema(sch, mergeSchema = false, prev)))
        }
      case None =>
        Some(commit("append", adds, Seq.empty, stats = statsOf(adds, base),
          reschema = Some(prev =>
            appendSchema(sch, mergeSchema = false, prev))))
    }
  }

  /** Remove one staged-but-uncommitted file (epoch replay / abort). */
  private[sources] def deleteStaged(rel: String): Unit = {
    val p = new Path(rootPath, rel)
    if (fs.exists(p)) fs.delete(p, false)
    ()
  }

  /** The ONE tagged-idempotence guard all tagged verbs share:
    * validate the tag, no-op (running `onReplay`) if its action is
    * already committed at `base` — the snapshot the verb pins, by
    * default the latest — otherwise run `body` with the action string
    * and `base`. A tag that lands between the pin and the publish
    * (another writer, another instance) is caught by [[commit]]'s
    * re-check and no-ops the same way.
    */
  private def tagged(prefix: String, tag: String,
                     onReplay: () => Unit = () => (),
                     base: Snapshot = snapshot())
                    (body: (String, Snapshot) => Long): Option[Long] = {
    val action =
      if (tag == null) prefix
      else {
        require(!tag.exists(c => c == '\t' || c == '\n'), s"bad tag: $tag")
        s"$prefix@$tag"
      }
    if (tag != null && base.tags(action)) { onReplay(); None }
    else
      try Some(body(action, base))
      catch { case TagReplayed => onReplay(); None }
  }

  /** Replace the whole live set with `df` atomically. Serializable:
    * a commit landing between this call's snapshot and its publish
    * aborts it as a write conflict (its files would otherwise
    * silently survive the "replace everything").
    */
  def overwrite(df: DataFrame): Long = {
    val base = snapshot()
    enforceConstraints(df, "overwrite", base)
    val removes = base.files.keys.toSeq
    // a whole-table replace RESETS column mapping: no old file
    // survives, so physical names can be the new schema's own (and a
    // stale map could collide a new column with an old physical name)
    val adds = stage(df, base, Some(GraftTable.ColMap.empty))
    commit("overwrite", adds, removes, basedOn = Some(base.version),
      stats = statsOf(adds, base),
      schema = Some(org.apache.spark.sql.graft.shim.nullable(df.schema)),
      colmap = Some(GraftTable.ColMap.empty),
      // ... and a FLAT replace ends the partitioned epoch: no value
      // dir survives, so the recorded partition metadata must not
      // carry forward onto a layout that no longer has the column
      clearPartMeta = true)
  }

  // ---- row-level DML (copy-on-write) ----------------------------------

  /** file key → live relpath, asserting table-wide uniqueness (dv
    * keying and the `__fn` probe both rely on it — [[fileKey]]'s
    * two-component construction makes collisions structurally
    * impossible; this makes the assumption loud).
    */
  private def byBaseName(live: Map[String, FileMeta]): Map[String, String] = {
    val m = live.keys.map(p => fileKey(p) -> p).toMap
    require(m.size == live.size,
      "live data files must have distinct file keys")
    m
  }

  /** STATS PRUNE: the files of `live` whose logged min/max may satisfy
    * `pred` (logical names, mapped through `cm` onto the physical
    * stats), in path order. No footer or data page is read.
    */
  private def statsCandidates(
      live: Map[String, FileMeta],
      pred: org.apache.spark.sql.catalyst.expressions.Expression,
      cm: GraftTable.ColMap): Seq[String] = {
    val e = physPred(pred, cm)
    live.toSeq.sortBy(_._1).collect {
      case (p, m) if FileStats.mayMatch(m.stats, e) => p
    }
  }

  /** One DML verb's prune, probe and read over its pinned snapshot
    * `base`.
    */
  private final class DmlScope(val base: Snapshot) {
    lazy val byName: Map[String, String] = byBaseName(base.files)

    /** DML read of the named live files: recorded schema applied, and
      * — on a hive-partitioned table — EVERY partition column RESTORED
      * from each row's file path (their values live in the paths, not
      * the file contents), so predicates and SET expressions may
      * reference any key. dv-aware: a CoW/MoR pass over files an
      * earlier MoR commit marked must not resurrect (or re-mark)
      * already-dead rows.
      */
    def read(paths: Seq[String], keepPos: Boolean = false): DataFrame =
      readLive(base, paths, keys = true, keepPos = keepPos)

    def candidates(pred: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[String] = statsCandidates(base.files, pred, base.colmap)

    def candidates(pred: Column): Seq[String] =
      candidates(org.apache.spark.sql.graft.shim.catalystExpression(pred))

    /** EXACT PROBE: the live files holding at least one of `rows` (a
      * `keepPos` read, filtered or joined), path-sorted. `__fn` comes
      * from the dv-aware read — input_file_name can't cross the dv
      * anti-join's second source — and the collect is bounded by the
      * file count.
      */
    def filesOf(rows: DataFrame): Seq[String] =
      rows.select("__fn").distinct().collect().map(_.getString(0))
        .toSeq.map(byName).sorted
  }

  /** Footer stats of staged DML outputs, with the ZERO-ROW outputs (a
    * fully-deleted file, a truncate) deleted and left out of the
    * returned adds: a broad rewrite must shrink the live set, not
    * replace data files with empty ones — and an all-rows delete
    * leaves a genuinely empty table the schema-bearing read serves.
    */
  private def dropEmpty(adds: Seq[(String, Long)], at: Snapshot)
      : (Seq[(String, Long)], Map[String, String]) = {
    val st = statsOf(adds, at)
    val (kept, emptied) = adds.partition(a =>
      st.get(a._1).flatMap(FileStats.numRows).forall(_ > 0))
    emptied.foreach(a => fs.delete(new Path(rootPath, a._1), false))
    (kept, st)
  }

  /** The copy-on-write core of [[deleteWhere]], [[update]] and the
    * row-level [[replaceWhere]]: a file discipline under which a
    * 100 TB table pays only for what `pred` touches.
    *   1. STATS PRUNE: `candidates` come from [[DmlScope.candidates]];
    *   2. EXACT PROBE: one column-pruned scan of the candidates names
    *      the files that really contain matching rows;
    *   3. REWRITE: only those files are read again, passed through
    *      `rewrite`, restaged (under their value-dir chains on a
    *      partitioned table) and their zero-row outputs dropped;
    *   4. CHANGE IMAGES: `images` maps the same touched rows to the
    *      verb's CDF images (None: the verb stages none). They stage on
    *      [[GraftTable.stagingEc]] WHILE the rewrite stages — merge's
    *      overlap: both passes only read the touched files and write
    *      disjoint immutable staging dirs.
    * `rewrite` runs before either staging starts, so a refusal it
    * raises (update's CHECK constraints) stages nothing. Each pass is
    * labelled `<verb>: file probe` / `stage rewrite` / `stage CDF
    * images`. Untouched files are never read, copied or rewritten.
    * None, with nothing staged, when no file matches.
    */
  private def rewriteWhere(verb: String, d: DmlScope, pred: Column,
                           candidates: Seq[String])
                          (rewrite: DataFrame => DataFrame,
                           images: DataFrame => Option[DataFrame])
      : Option[GraftTable.Rewritten] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val touched =
      if (candidates.isEmpty) Seq.empty[String]
      else jobPhase(s"$verb: file probe")(
        d.filesOf(d.read(candidates, keepPos = true).filter(pred)))
    if (touched.isEmpty) None
    else {
      val rows = d.read(touched)
      val out = rewrite(rows)
      val cdfFuture = images(rows).fold(
        Future.successful(Seq.empty[(String, Long)])) { img =>
        Future(jobPhase(s"$verb: stage CDF images")(stageCdf(img)))(
          GraftTable.stagingEc)
      }
      // drain the image staging before a failed rewrite propagates,
      // so no background job outlives the verb
      val staged =
        try jobPhase(s"$verb: stage rewrite")(dmlStage(out, d.base))
        catch {
          case e: Throwable => Await.ready(cdfFuture, Duration.Inf); throw e
        }
      val cdf = Await.result(cdfFuture, Duration.Inf)
      val (adds, st) = dropEmpty(staged, d.base)
      Some(GraftTable.Rewritten(touched, adds, st, cdf))
    }
  }

  /** DML re-stage: partition-preserving on a partitioned table (the
    * rewritten rows land back under their full value-dir chain,
    * keeping pruned reads on every key working —
    * compactPartitioned's rule), flat otherwise.
    */
  private def dmlStage(df: DataFrame, at: Snapshot): Seq[(String, Long)] =
    if (at.partCols.isEmpty) stage(df, at)
    else stagePartitioned(df, at.partCols, at)

  /** Copy-on-write DELETE (Delta's `DELETE FROM t WHERE pred`), the
    * reference's delete endpoints (`DeleteData` app.py:5216) made
    * transactional: [[rewriteWhere]] keeps each touched file's
    * surviving rows, and the swap is published as ONE serializable
    * commit (concurrent commit ⇒ conflict abort, like overwrite;
    * blind appends tolerated). Untouched files stay live
    * byte-identical. Row-level change images
    * (`_change_type='delete'`) are staged for [[changeFeed]].
    * `mor = true` marks the matched rows dead in a deletion vector
    * instead of rewriting ([[morCommit]]).
    * Returns the new version, or the current one if nothing matched.
    */
  def deleteWhere(pred: Column, cdfImages: Boolean = true,
                  mor: Boolean = false): Long = {
    import org.apache.spark.sql.functions.lit
    val base = snapshot()
    require(base.version > 0, s"no graft table at $root")
    val d = new DmlScope(base)
    val candidates = d.candidates(pred)
    if (candidates.isEmpty) return base.version
    if (mor) {
      require(base.partCols.isEmpty, "merge-on-read DML is not supported on " +
        "hive-partitioned tables — the partition-subset readers " +
        "(readPartitions/readPartitionedColumn) serve raw files; use " +
        "the copy-on-write default")
      // two lean passes, no cache: the positions pass carries the
      // metadata columns; the cdf pass DROPS them, so Catalyst prunes
      // _metadata away and it runs as a plain pushed-down scan
      val matched = d.read(candidates, keepPos = true).filter(pred)
      return morCommit("delete", d, matched,
        adds = Seq.empty,
        cdf = if (!cdfImages) None
              else Some(matched.drop("__fn", "__ri")
                .withColumn(ChangeTypeCol, lit("delete"))),
        readFiles = candidates)
    }
    // null-evaluating rows SURVIVE a delete (Delta's
    // Not(EqualNullSafe(cond, true))) — !pred would drop them
    rewriteWhere("delete", d, pred, candidates)(
      _.filter(notMatching(pred)),
      rows => if (!cdfImages) None
              else Some(rows.filter(pred).withColumn(ChangeTypeCol, lit("delete")))
    ).fold(base.version) { w =>
      commit("delete", w.adds, w.touched, basedOn = Some(base.version),
        stats = w.stats, schema = base.schema, cdf = w.cdf,
        tolerateAppends = true, readFiles = candidates)
    }
  }

  /** The shared tail of a MERGE-ON-READ DML commit: `matched` is the
    * dv-aware probe's result (payload + __fn/__ri) naming the rows to
    * mark DEAD. Stages ONE dv parquet holding the new dead positions
    * UNIONED with the touched files' existing dv positions (a newer dv
    * SUPERSEDES — so each file's dv is always its complete dead set),
    * counts per-file cardinalities (bounded collect, ≤ #files rows),
    * and publishes one commit: `adds` (the MoR-update rewrite slice,
    * empty for delete), full-dead files as plain removes (a dv
    * covering every physical row degenerates to the remove — no
    * sidecar, and an emptied table stays readable), dvs for the rest.
    * Returns the committed version, or `base` when nothing matched.
    */
  private def morCommit(action: String, d: DmlScope,
                        matched: DataFrame,
                        adds: Seq[(String, Long)],
                        cdf: Option[DataFrame],
                        readFiles: Seq[String]): Long = {
    import org.apache.spark.sql.functions.col
    import s.implicits._
    val live = d.base.files
    def readDv(dirs: Seq[String]) = s.read
      .schema(new StructType().add("__file", StringType)
        .add("__pos", LongType)) // explicit: an empty stage stays readable
      .parquet(dirs.map(absOf): _*) // absOf: a clone's INHERITED dvs
      // are absolute source paths — resolving them under this root
      // would fail (or worse, silently resurrect the masked rows)
    def stageDv(df: DataFrame, ways: Int): String = {
      val sub = s"$DvDir/${java.util.UUID.randomUUID.toString.take(12)}"
      // repartition, not coalesce: coalesce would collapse the
      // UPSTREAM scan's parallelism into `ways` tasks
      df.repartition(ways).write.parquet(s"$root/$sub")
      sub
    }
    def drop(sub: String): Unit = { fs.delete(new Path(rootPath, sub), true); () }
    // ONE pass over the matched scan stages the new positions; touched
    // names and per-file cardinality then come from the sidecar (tiny),
    // never from re-running the scan
    val dvSub0 = stageDv(matched.select(col("__fn").as("__file"),
      col("__ri").as("__pos")), 8)
    val touchedNames = readDv(Seq(dvSub0)).select("__file").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (touchedNames.isEmpty) { drop(dvSub0); return d.base.version }
    val touched = touchedNames.map(d.byName)
    val oldDvDirs = touched.flatMap(p => live(p).dv.map(_.path)).distinct
    // SUPERSEDE: fold the touched files' existing dv positions in — a
    // sidecar-sized rewrite (positions only), never a data scan
    val dvSub = if (oldDvDirs.isEmpty) dvSub0 else {
      val sub = stageDv(readDv(Seq(dvSub0)).unionByName(
        readDv(oldDvDirs).join(touchedNames.toDF("__file"), "__file")
          .select("__file", "__pos")).distinct(), 8)
      drop(dvSub0); sub
    }
    val counts = readDv(Seq(dvSub)).groupBy("__file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // compact ONLY an overhead-dominated sidecar: parquet pays ~1 KB
    // of footer per file, so a tiny mask must not spend 8 files on it
    // (Delta writes ONE dv per commit) — but a mass delete keeps its
    // parallel files; rewriting megabytes of positions through fewer
    // tasks would buy back only footers. The rewrite, when it
    // happens, is sidecar-sized — positions only, never data.
    def sidecarFiles(sub: String) = fs.listStatus(new Path(rootPath, sub))
      .toSeq.filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val files0 = sidecarFiles(dvSub)
    val bytes0 = files0.map(_.getLen).sum
    val dvSubC =
      if (files0.size > 1 && bytes0 / files0.size < 512 * 1024) {
        val sub = stageDv(readDv(Seq(dvSub)),
          math.max(1L, bytes0 / (4L << 20)).toInt)
        drop(dvSub); sub
      } else dvSub
    val dvBytes = sidecarFiles(dvSubC).map(_.getLen).sum
    val (fullDead, partial) = touched.partition { p =>
      live(p).stats.flatMap(FileStats.numRows)
        .contains(counts(fileKey(p)))
    }
    if (partial.isEmpty) // every touched file died whole: no dv needed
      drop(dvSubC)
    val dvs = partial.map(p =>
      p -> DvRef(dvSubC, dvBytes, counts(fileKey(p))))
    commit(action, adds, fullDead, basedOn = Some(d.base.version),
      stats = statsOf(adds, d.base), schema = d.base.schema,
      cdf = cdf.map(stageCdf).getOrElse(Seq.empty),
      tolerateAppends = true, dvs = dvs, readFiles = readFiles)
  }

  /** Copy-on-write UPDATE (Delta's `UPDATE t SET … WHERE pred`), the
    * reference's field-edit write path (`SaveData` app.py:5253 sets
    * named columns on matched registry rows) — deleteWhere's
    * [[rewriteWhere]] core with a rewrite instead of a drop: the
    * touched files are restaged with `set`'s column expressions
    * applied to the matching rows (non-matching rows pass through
    * bit-equal), in ONE serializable commit (blind appends tolerated).
    * `set` maps column name → new-value expression (evaluated
    * against the OLD row, so `col("a") + 1` increments). Row-level
    * change images (update_preimage / update_postimage) are staged
    * for [[changeFeed]]. Returns the new version, or the current one
    * if nothing matched.
    */
  def update(pred: Column, set: Map[String, Column],
             cdfImages: Boolean = true, mor: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{lit, when}
    val base = snapshot()
    require(base.version > 0, s"no graft table at $root")
    val d = new DmlScope(base)
    require(set.nonEmpty, "update needs at least one SET column")
    base.partCols.foreach { p =>
      require(!set.contains(p),
        s"cannot SET hive-partition column '$p' — the row would move to " +
          "another partition; use replacePartitions for partition rewrites")
    }
    base.schema.foreach { st =>
      val missing = set.keySet -- st.fieldNames.toSet -- base.partCols.toSet
      require(missing.isEmpty, s"SET columns not in the table: $missing")
    }
    val candidates = d.candidates(pred)
    if (candidates.isEmpty) return base.version
    if (mor) {
      require(base.partCols.isEmpty, "merge-on-read DML is not supported on " +
        "hive-partitioned tables — use the copy-on-write default")
      // matched pre-rows, dv-aware, with their (file, position) —
      // persisted: slice rewrite, dv stage and cdf images all read
      // the cache instead of rescanning candidates
      val matched = d.read(candidates, keepPos = true).filter(pred)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val payload = matched.columns
          .filterNot(c => c == "__fn" || c == "__ri")
        // every matched row updates — no when(pred) needed
        val post = matched.select(payload.map(c =>
          set.get(c).map(_.as(c)).getOrElse(matched(c))).toIndexedSeq: _*)
        if (matched.isEmpty) return base.version
        enforceConstraints(post, "update", base)
        // the updated copies APPEND as new files; the old copies go
        // dead via the dv — the only data written is the touched slice
        val adds = stage(post, base)
        return morCommit("update", d, matched, adds,
          cdf = if (!cdfImages) None
                else Some(matched.drop("__fn", "__ri")
                  .withColumn(ChangeTypeCol, lit("update_preimage"))
                  .unionByName(post
                    .withColumn(ChangeTypeCol, lit("update_postimage")))),
          readFiles = candidates)
      } finally matched.unpersist()
    }
    rewriteWhere("update", d, pred, candidates)(
      { touchedDf =>
        val rewritten = touchedDf.select(touchedDf.columns.map { c =>
          set.get(c) match {
            case Some(v) => when(pred, v).otherwise(touchedDf(c)).as(c)
            case None => touchedDf(c)
          }
        }.toIndexedSeq: _*)
        enforceConstraints(rewritten, "update", base)
        rewritten
      },
      rows => if (!cdfImages) None else {
        // post-images derive from the PRE rows with SET applied — the
        // predicate may stop matching after the update (SET status =
        // 'DONE' WHERE status = 'PENDING'), so re-filtering the
        // rewritten frame would lose exactly the updated rows
        val pre = rows.filter(pred)
        val postCols = rows.columns.map { c =>
          set.get(c).map(_.as(c)).getOrElse(pre(c))
        }
        Some(pre.withColumn(ChangeTypeCol, lit("update_preimage"))
          .unionByName(pre.select(postCols.toIndexedSeq: _*)
            .withColumn(ChangeTypeCol, lit("update_postimage"))))
      }
    ).fold(base.version) { w =>
      commit("update", w.adds, w.touched, basedOn = Some(base.version),
        stats = w.stats, schema = base.schema, cdf = w.cdf,
        tolerateAppends = true, readFiles = candidates)
    }
  }

  /** The upsert MERGE (Delta's `MERGE INTO … WHEN MATCHED THEN UPDATE
    * SET * WHEN NOT MATCHED THEN INSERT *`), the reference's upsert
    * write path (`SaveData` app.py:5253, `uploadExcel`
    * app.py:6063-6300) made transactional. A front over [[mergeInto]]
    * with two clauses on the ON key `key`:
    *   - WHEN MATCHED UPDATE: every non-key column the batch shares
    *     with the table takes `coalesce(s.c, t.c)`, so a null batch
    *     field keeps the stored value ([[graft.operators.Upsert]]'s
    *     `UpdateWins`);
    *   - WHEN NOT MATCHED INSERT: the key and every shared column take
    *     `s.c`; table-only columns insert null.
    * Batch-only columns are ignored — unless `mergeSchema = true`,
    * which adds them to the schema and to both clauses as `s.c`
    * (common columns must keep their type). Pruning, probing, the
    * size-aware broadcast gate, CDF images (update_preimage /
    * update_postimage / insert) and the commit are mergeInto's; so is
    * its multiple-match refusal when a batch holds two rows for one
    * stored key. Hive-partitioned tables refuse here: mergeInto and
    * replacePartitions serve them. Returns the new version, or the
    * current one when the batch is empty.
    */
  def merge(updates: DataFrame, key: String,
            cdfImages: Boolean = true,
            mergeSchema: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{coalesce, col}
    import MergeClauses._
    val base = snapshot()
    require(base.version > 0, s"no graft table at $root — append the batch instead")
    val cur = base.schema.getOrElse(new StructType())
    val (shared, fresh) = org.apache.spark.sql.graft.shim
      .nullable(updates.schema).fields.toSeq
      .filterNot(_.name.equalsIgnoreCase(key))
      .partition(f => cur.fieldNames.exists(_.equalsIgnoreCase(f.name)))
    // DML SCHEMA EVOLUTION (round 16, Delta's schema.autoMerge): type
    // conflicts on common columns refuse loudly; mergeInto adds the
    // fresh columns (tombstone guard included)
    if (mergeSchema) shared.foreach { f =>
      val t = cur.fields.find(_.name.equalsIgnoreCase(f.name)).get.dataType
      require(t == f.dataType,
        s"mergeSchema cannot change column '${f.name}' from " +
          s"${t.simpleString} to ${f.dataType.simpleString}")
    }
    base.partCols.headOption.foreach { p =>
      throw new IllegalArgumentException(
        s"table is hive-partitioned on '$p' — use mergeInto (clause " +
          "merge, restages under value-dir chains) or " +
          "replacePartitions (the partition-scoped merge the " +
          "streaming sinks run) instead")
    }
    require(cur.fieldNames.contains(key),
      s"merge key '$key' is not a column of the table")
    val carried = if (mergeSchema) fresh.map(_.name) else Seq.empty
    def src(c: String) = col(s"s.$c")
    pinned(updates)(mergeIntoBody("merge", base, _, Seq(key),
      matched = Seq(MatchedUpdate(None, (shared.map(f =>
        f.name -> coalesce(src(f.name), col(s"t.${f.name}"))) ++
        carried.map(c => c -> src(c))).toMap)),
      notMatched = Seq(NotMatchedInsert(None,
        (Seq(key) ++ shared.map(_.name) ++ carried).map(c => c -> src(c)).toMap)),
      notMatchedBySource = Seq.empty,
      cdfImages = cdfImages, mergeSchema = mergeSchema, residual = None))
  }

  /** Runs `f` on `df` persisted, unpersisting after: the merge source
    * stays one evaluation across the whole validate-then-stage window
    * (ADVICE r16, replaceWhere's rule) — the range agg, both probes,
    * the dup check, the survivor join, the insert anti-join and the
    * CDF staging each re-execute it, and a non-deterministic source
    * could otherwise pass the dup check yet stage inconsistent
    * survivors/inserts/images.
    */
  private def pinned[T](df: DataFrame)(f: DataFrame => T): T = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try f(p) finally { p.unpersist(); () }
  }

  /** Conditional multi-clause MERGE — Delta's FULL `MERGE INTO`
    * clause surface, and the one MERGE engine ([[merge]] is its
    * two-clause upsert front): `WHEN MATCHED [AND cond] THEN
    * UPDATE/DELETE` (several, ordered, first-match-wins), `WHEN NOT
    * MATCHED [AND cond] THEN INSERT`, and `WHEN NOT MATCHED BY SOURCE
    * [AND cond] THEN UPDATE/DELETE`. The reference's approval flow is
    * the motivating statement — only PENDING rows may transition
    * (`ApprovalEditData` app.py:5336, `approve-tag-equipment`
    * app.py:5706). Expression convention: see [[MergeClauses]]
    * (`t.<col>` / `s.<col>`).
    *
    * Copy-on-write, with the DML prune and probe of [[DmlScope]]:
    *   1. STATS PRUNE — matched-side candidates from the batch's
    *      per-key [min,max]; by-source candidates from the OR of the
    *      by-source conditions (an unconditional by-source clause
    *      must scan every file: "unmatched-ness" is not
    *      stats-expressible — Delta's behavior);
    *   2. EXACT PROBE — only files really holding a matched key (or
    *      a by-source-eligible row) rewrite;
    *   3. ONE serializable commit — per-clause predicates fold into
    *      a single per-row action CASE over the touched-file scan
    *      joined (broadcast — the batch is endpoint-sized) to the
    *      source and pinned; deletes drop, updates rewrite, inserts
    *      append. With a matched clause and no residual the insert
    *      anti-join takes the stored keys from the pinned join's
    *      matched rows, so the key-holding files are scanned twice
    *      (probe, join), not three times.
    * Per-outcome CDF images (update_pre/postimage, delete, insert)
    * stage for [[changeFeed]] while the rewrite stages. A source with
    * duplicate keys matching one target row refuses when any MATCHED
    * clause exists (Delta's multiple-match error), before anything
    * stages. The key-range job also measures the largest non-null
    * source-key multiplicity: when every key occurs once no target
    * row can match twice, and the per-target-row check is skipped;
    * only a dup-keyed source pays it. With no matched clause the join
    * multiplicity collapses instead — a kept row is kept ONCE
    * (ADVICE r16). Returns the committed version, or `base` when no
    * row changed.
    *
    * Round-17 extensions (Delta parity):
    *   - `sourceKeys`: renamed ON keys (`ON t.k = s.j`) — pairs 1:1
    *     with `keys`; each source key column is mapped onto its
    *     TARGET key name before the probe (HeaderMapper's renamed
    *     uploads, app.py:5999-6021), so clause expressions reference
    *     the key as `s.<target name>`;
    *   - `residual`: a non-equi conjunct ANDed into the match
    *     condition (`t.`/`s.` convention). The equi keys still prune
    *     and probe (full match ⊆ equi match, so every file set stays
    *     a sound superset); the residual decides matched-ness in the
    *     join, the insert anti-join and the by-source anti-join;
    *   - `tag`: micro-batch replay idempotence — the commit action
    *     records `merge@<tag>` and a replayed tag no-ops (the
    *     foreachBatch streaming-upsert recipe);
    *   - the SOURCE STRATEGY is size-aware: an endpoint-sized batch
    *     broadcasts into every probe/rewrite join; a source whose
    *     optimizer size estimate exceeds
    *     `spark.graft.merge.broadcastThreshold` (default: the
    *     session's autoBroadcastJoinThreshold, or 64 MiB if that is
    *     disabled) leaves join strategy to the planner — a
    *     corpus-sized backfill merge degrades to shuffle joins
    *     instead of OOMing the driver. The choice is recorded in the
    *     commit's info line (`commitInfo`).
    */
  def mergeInto(source: DataFrame, keys: Seq[String],
                matched: Seq[MergeClauses.Matched] = Seq.empty,
                notMatched: Seq[MergeClauses.NotMatchedInsert] = Seq.empty,
                notMatchedBySource: Seq[MergeClauses.BySource] = Seq.empty,
                cdfImages: Boolean = true,
                mergeSchema: Boolean = false,
                sourceKeys: Seq[String] = Seq.empty,
                residual: Option[Column] = None,
                tag: String = null): Long = {
    // renamed ON keys (round 17, Delta's `ON t.k = s.j`): map each
    // source key column onto its TARGET key name up front, so the
    // whole equi machinery (stats prune, key probe, every join) sees
    // one name per key. Clause expressions reference the renamed key
    // as `s.<target name>`.
    require(sourceKeys.isEmpty || sourceKeys.length == keys.length,
      s"sourceKeys must pair 1:1 with keys " +
        s"(${keys.length} keys, ${sourceKeys.length} sourceKeys)")
    // one target key per source column (ADVICE r17): the rename below
    // CONSUMES the source column, so a duplicate mapping would refuse
    // downstream with a misleading "not a source column" — refuse
    // here with the workaround instead (SQL MERGE routes the second
    // equality into residual automatically)
    sourceKeys.map(_.toLowerCase).groupBy(identity).collectFirst {
      case (n, g) if g.size > 1 => n
    }.foreach { n =>
      throw new IllegalArgumentException(
        s"source column '$n' is mapped onto multiple merge keys — keep " +
          "one as the key and pass the other equality as residual= " +
          "(e.g. residual = col(\"t.j\") === col(\"s.<key>\"))")
    }
    val src0 =
      if (sourceKeys.isEmpty) source
      else keys.zip(sourceKeys).foldLeft(source) { case (df, (tk, sk)) =>
        if (sk.equalsIgnoreCase(tk)) df
        else {
          require(df.columns.exists(_.equalsIgnoreCase(sk)),
            s"merge source key '$sk' is not a source column")
          require(!df.columns.exists(_.equalsIgnoreCase(tk)),
            s"renamed merge key '$sk' -> '$tk': the source already has " +
              s"a column '$tk' — the mapped key would be ambiguous; " +
              "rename or drop that column first")
          df.withColumnRenamed(sk, tk)
        }
      }
    tagged("merge", tag) { (commitAction, base) =>
      pinned(src0)(mergeIntoBody(commitAction, base, _, keys, matched,
        notMatched, notMatchedBySource, cdfImages, mergeSchema, residual))
    }.getOrElse(latestVersion)
  }

  /** Label the Spark jobs a verb phase submits (guide §1.5) so the
    * UI / job listeners attribute each pass; restores the caller's
    * description (foreachBatch threads set their own).
    */
  private def jobPhase[T](desc: String)(f: => T): T = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(prev)
  }

  private def mergeIntoBody(commitAction: String, base: Snapshot,
                            source: DataFrame, keys: Seq[String],
                            matched: Seq[MergeClauses.Matched],
                            notMatched: Seq[MergeClauses.NotMatchedInsert],
                            notMatchedBySource: Seq[MergeClauses.BySource],
                            cdfImages: Boolean,
                            mergeSchema: Boolean,
                            residual: Option[Column]): Long = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, lit, max, min, when}
    import MergeClauses._
    require(base.version > 0, s"no graft table at $root — append the batch instead")
    // hive-partitioned tables merge too (round 16 — Delta does): the
    // probes restore the partition columns from paths (DmlScope.read), the
    // rewrite restages under full value-dir chains (dmlStage), so an
    // update that SETs a partition key simply moves the row to its
    // new chain, and partition-column ON keys chain-prune candidates
    val d = new DmlScope(base)
    val pc = base.partCols
    require(keys.nonEmpty, "mergeInto needs at least one ON key")
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "mergeInto needs at least one clause")
    val payload = base.schema.getOrElse(throw new IllegalStateException(
      s"table at $root has no recorded schema"))
    // the full logical row = payload fields + path-restored partition
    // fields (the recorded schema is payload-only on partitioned
    // layouts — partition values live in the value dirs)
    val schema = StructType(payload.fields ++ pc.map(p =>
      org.apache.spark.sql.types.StructField(p,
        partTypeOf(p, base.files.keys, base))))
    val tNames = schema.fieldNames.toSeq
    val tSet = tNames.map(_.toLowerCase).toSet
    keys.foreach { k =>
      require(tSet(k.toLowerCase), s"merge key '$k' is not a table column")
      require(source.columns.exists(_.equalsIgnoreCase(k)),
        s"merge key '$k' is not a source column")
    }
    // key TYPE alignment (round 17 — the Excel-upload reality one
    // step past the rename: header-mapped batches arrive with
    // STRING-typed keys): a source key column whose type differs
    // from the table's casts to the TABLE type once, up front, so
    // the stats prune, the chain tokens and every probe compare in
    // the target's type — raw-typed source ranges racing long file
    // stats would be unsound. try_cast, not cast: under ANSI a
    // malformed value would ABORT the merge; here it becomes NULL
    // and never equi-matches (so the row INSERTs with a NULL key if
    // a NOT MATCHED clause admits it — the loud-in-data outcome).
    // ADVICE r17: the cast is only sound when it cannot CHANGE a
    // value — a lossy numeric narrowing (DOUBLE 5.5 -> BIGINT) would
    // truncate to 5 and silently equi-match (and update!) the wrong
    // target row, where Spark/Delta's ON comparison widens both
    // sides and matches nothing. Lossy shapes refuse loudly instead.
    val src = keys.foldLeft(source) { (df, k) =>
      val tT = schema.fields.find(_.name.equalsIgnoreCase(k)).get.dataType
      val sName = df.schema.fields.find(_.name.equalsIgnoreCase(k)).get
      if (sName.dataType == tT) df
      else {
        require(GraftTable.losslessKeyCast(sName.dataType, tT),
          s"merge key '${sName.name}' is ${sName.dataType.sql} in the " +
            s"source but ${tT.sql} in the table — that cast can change " +
            "the value (e.g. 5.5 -> 5) and silently match the wrong " +
            "target row; cast the source key explicitly to the value " +
            "you intend to merge on")
        df.withColumn(sName.name,
          org.apache.spark.sql.functions.expr(
            s"try_cast(`${sName.name}` AS ${tT.sql})"))
      }
    }
    // SCHEMA EVOLUTION through the clause verb (round 16, Delta's
    // `WITH SCHEMA EVOLUTION`): with mergeSchema=true a SET / INSERT
    // naming a NON-table column ADDS it to the schema — its type
    // resolved from the defining expression; target rows outside the
    // defining clauses null-fill; untouched files stay byte-identical
    // and the snapshot read null-fills them (the evolved-append rule).
    // Tombstoned names refuse (a dropped column's data must never
    // resurrect under its old physical name).
    val newCols = scala.collection.mutable.LinkedHashMap.empty[String, Column]
    def checkCols(m: Map[String, Column], what: String): Unit =
      m.foreach { case (c, v) =>
        if (!tSet(c.toLowerCase)) {
          require(mergeSchema,
            s"$what names '$c', not a table column — pass " +
              "mergeSchema=true (WITH SCHEMA EVOLUTION) to add it")
          if (!newCols.keys.exists(_.equalsIgnoreCase(c)))
            newCols += c -> v
        }
      }
    matched.foreach { case MatchedUpdate(_, set) =>
      checkCols(set, "WHEN MATCHED UPDATE SET"); case _ => }
    notMatched.foreach(c => checkCols(c.values, "WHEN NOT MATCHED INSERT"))
    notMatchedBySource.foreach { case BySourceUpdate(_, set) =>
      checkCols(set, "WHEN NOT MATCHED BY SOURCE UPDATE SET"); case _ => }
    requireEvolvableFresh(newCols.keys.toSeq, base)
    def probeFiles(paths: Seq[String]) = d.read(paths, keepPos = true)

    // 1a. matched-side stats prune: conjunction of per-key batch
    // ranges. The probe set is needed whenever matched OR notMatched
    // clauses exist — even with no matched clause, the insert
    // anti-join must know which source keys already live in the table.
    // The same job takes the largest multiplicity of a non-null source
    // key: grouped by the keys, min/max of each key and max(count)
    val keysNonNull = keys.map(k => col(k).isNotNull).reduce(_ && _)
    val aggs = keys.flatMap(k =>
      Seq(min(col(k)).as(s"__lo_$k"), max(col(k)).as(s"__hi_$k"))) :+
      max(when(keysNonNull, col("__n"))).as("__dup")
    val range = jobPhase("merge: source pin + key range")(
      src.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
        .agg(aggs.head, aggs.tail: _*).head)
    val srcEmpty = range.isNullAt(0)
    // every non-null source key occurs once: no target row can match
    // twice (null never equals anything, and a residual only narrows
    // a match), so the multiple-match refusal cannot fire
    val srcKeysUnique =
      range.isNullAt(aggs.size - 1) || range.getLong(aggs.size - 1) <= 1L
    // size-aware SOURCE STRATEGY (round 17, Delta's merge planning):
    // an endpoint-sized batch BROADCASTS into every probe/rewrite
    // join — the fast plan for the documented upload shape. A
    // corpus-sized backfill source would not refuse under an
    // unconditional broadcast, it would OOM the DRIVER — so gate on
    // the optimizer's own size estimate (the source is persisted, so
    // a materialized cache reports measured bytes) and above the
    // ceiling leave join strategy to the planner: the CoW algebra is
    // join-strategy-agnostic and AQE picks shuffle joins. The choice
    // is recorded in the commit's info line.
    val srcBytes = src.queryExecution.optimizedPlan.stats.sizeInBytes
    // disabled session broadcast threshold (<= 0) means NO forced
    // broadcast here either (ADVICE r17); the graft conf overrides
    val bcCeiling = BigInt(s.conf.get(
      "spark.graft.merge.broadcastThreshold",
      s.sessionState.conf.autoBroadcastJoinThreshold.toString))
    val srcSmall = bcCeiling > 0 && srcBytes <= bcCeiling
    val bcast: DataFrame => DataFrame =
      if (srcSmall) df => broadcast(df) else df => df
    // partition-column keys have no file stats (their values live in
    // the paths) — they prune by CHAIN TOKEN instead: a file whose
    // value dir for key k is outside the batch's distinct k-values
    // cannot hold a matched key (the batch is endpoint-sized, so the
    // distinct collect is bounded; null key values never equi-match)
    val partKeys = keys.filter(k => pc.exists(_.equalsIgnoreCase(k)))
    val chainKeep: String => Boolean =
      if (partKeys.isEmpty) _ => true
      else {
        val valueSets = partKeys.map { k =>
          k -> src.select(col(k).cast("string")).distinct()
            .collect().flatMap(r => Option(r.getString(0)))
            .map(v => partToken(k, v)).toSet
        }
        p => valueSets.forall { case (k, toks) =>
          toks.exists(("/" + p).contains) }
      }
    val keyCandidates =
      if (srcEmpty || (matched.isEmpty && notMatched.isEmpty)) Seq.empty[String]
      else {
        val payloadKeys = keys.zipWithIndex.filterNot { case (k, _) =>
          pc.exists(_.equalsIgnoreCase(k)) }
        val statsKept =
          if (payloadKeys.isEmpty) base.files.keys.toSeq.sorted
          else d.candidates(payloadKeys.map { case (k, i) =>
            col(k) >= lit(range.get(2 * i)) &&
              col(k) <= lit(range.get(2 * i + 1))
          }.reduce(_ && _))
        statsKept.filter(chainKeep)
      }
    val srcKeys = src.select(keys.map(col): _*).distinct()
    // the MATCH condition: equi keys (pruning, probing) AND the
    // optional non-equi residual (round 17, Delta's arbitrary ON) —
    // the residual decides matched-ness wherever the two sides meet
    val equiCond = keys.map(k => col(s"t.$k") === col(s"s.$k"))
      .reduceOption(_ && _).getOrElse(lit(false))
    val joinCond = residual.map(equiCond && _).getOrElse(equiCond)
    // the column sets joinCond references, per side (ADVICE r17): the
    // residual anti-joins evaluate joinCond ONLY, so their scan/
    // broadcast sides project to keys + residual attrs instead of the
    // full width. Alias-qualified attrs bind to their side;
    // unqualified or pre-resolved ones conservatively count for both.
    val (residTCols, residSCols) = {
      val ts = Seq.newBuilder[String]; val ss = Seq.newBuilder[String]
      residual.foreach { r =>
        org.apache.spark.sql.graft.shim.catalystExpression(r).foreach {
          case org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute(parts) =>
            val q = if (parts.length > 1) Some(parts.head.toLowerCase)
                    else None
            if (q.forall(_ == "t")) ts += parts.last
            if (q.forall(_ == "s")) ss += parts.last
          case a: org.apache.spark.sql.catalyst.expressions
              .AttributeReference =>
            ts += a.name; ss += a.name
          case _ => ()
        }
      }
      (ts.result().distinct, ss.result().distinct)
    }
    // 2a. exact probe: files really holding an equi-matched key (a
    // SUPERSET of full matches when a residual narrows them — sound:
    // extra files rewrite as all-keep)
    val matchedKeyFiles =
      if (keyCandidates.isEmpty) Seq.empty[String]
      else jobPhase("merge: matched-file key probe")(d.filesOf(
        probeFiles(keyCandidates).join(bcast(srcKeys), keys)))
    // 1b+2b. by-source side: prune on the OR of the clause conditions
    // where every clause HAS one (an unconditional clause forces the
    // full scan — "unmatched-ness" is not stats-expressible); then
    // exact-probe rows that are key-absent AND clause-eligible
    def stripT(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
      org.apache.spark.sql.graft.shim.catalystExpression(c).transform {
        case org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute(parts) if parts.length > 1 =>
          org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute(Seq(parts.last))
      }
    val (bsCandidates, touchedBySource) =
      if (notMatchedBySource.isEmpty) (Seq.empty[String], Seq.empty[String])
      else {
        val conds = notMatchedBySource.map(_.condition)
        val cands =
          if (conds.exists(_.isEmpty)) base.files.keys.toSeq.sorted
          else d.candidates(conds.flatten.map(stripT).reduce(
            org.apache.spark.sql.catalyst.expressions.Or(_, _)))
        if (cands.isEmpty) (cands, Seq.empty[String])
        else {
          val eligible = conds.map(_.getOrElse(lit(true))).reduce(_ || _)
          // with a residual, "matched by source" means the FULL
          // condition — a row equi-matching on keys but failing the
          // residual is by-source-eligible, so the anti-join must
          // test the whole condition against the source
          val unmatchedRows = residual match {
            case None => probeFiles(cands).alias("t")
              .join(bcast(srcKeys), keys, "left_anti")
            case Some(_) =>
              // the anti-join evaluates joinCond only: ship the keys
              // + residual source attrs, not the full-width source
              val sCols = (keys ++ residSCols).flatMap(n =>
                src.columns.find(_.equalsIgnoreCase(n))).distinct
              probeFiles(cands).alias("t")
                .join(bcast(src.select(sCols.map(col): _*).alias("s")),
                  joinCond, "left_anti")
          }
          (cands, jobPhase("merge: by-source file probe")(
            d.filesOf(unmatchedRows.filter(eligible))))
        }
      }
    // only matched-clause rewrites touch the key-holding files; with
    // notMatched alone they are read (for the anti-join) but survive
    val touched = ((if (matched.nonEmpty) matchedKeyFiles
                    else Seq.empty) ++ touchedBySource).distinct.sorted
    if (touched.isEmpty && (srcEmpty || notMatched.isEmpty)) return base.version

    // 3. one joined pass: per-row action CASE over touched ⟕ source
    val srcMarked = src.withColumn("__s_exists", lit(true))
    val joined0 = probeFiles(touched).alias("t")
      .join(bcast(srcMarked.alias("s")), joinCond, "left_outer")
    // evolution: each new column's TYPE resolves from its defining
    // expression against the joined frame (t.* and s.* both in scope)
    val newFields = newCols.toSeq.map { case (n, v) =>
      org.apache.spark.sql.types.StructField(n,
        joined0.select(v.as(n)).schema.head.dataType, nullable = true)
    }
    val newNamesLc = newFields.map(_.name.toLowerCase).toSet
    // output row shape: evolved payload first, the hive keys LAST
    val outSchema = StructType(payload.fields ++ newFields ++
      schema.fields.drop(payload.fields.length))
    // the target side of a NEW column is always null (old files
    // cannot carry it)
    def tSide(f: org.apache.spark.sql.types.StructField): Column =
      if (newNamesLc(f.name.toLowerCase)) lit(null).cast(f.dataType)
      else col(s"t.${f.name}")
    val isMatched = coalesce(col("s.__s_exists"), lit(false))
    val ordered: Seq[(String, Column, Option[Map[String, Column]])] =
      matched.zipWithIndex.map {
        case (MatchedUpdate(c, set), i) =>
          (s"u$i", isMatched && c.getOrElse(lit(true)), Some(set))
        case (MatchedDelete(c), i) =>
          (s"d$i", isMatched && c.getOrElse(lit(true)), None)
      } ++ notMatchedBySource.zipWithIndex.map {
        case (BySourceUpdate(c, set), i) =>
          (s"bu$i", !isMatched && c.getOrElse(lit(true)), Some(set))
        case (BySourceDelete(c), i) =>
          (s"bd$i", !isMatched && c.getOrElse(lit(true)), None)
      }
    val action = ordered.foldRight(lit("keep")) { case ((tag, cnd, _), acc) =>
      when(cnd, lit(tag)).otherwise(acc)
    }
    // a target row hit by SEVERAL source rows: with matched clauses
    // the dup check below refuses (Delta's rule). With NONE, every
    // such row's outcome is source-independent ('keep', or a
    // by-source action that never fires on matched rows) — so the
    // join multiplicity must COLLAPSE to one output row per target
    // (file, position), or a dup-keyed source would silently
    // duplicate kept rows through the left-outer rewrite (ADVICE r16)
    val withAction = joined0.withColumn("__action", action)
    val joined = (if (matched.nonEmpty) withAction
                  else withAction.dropDuplicates(Seq("__fn", "__ri")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the insert frame is pinned too (set below): it is read three
    // times — union into the staged rows, CDF images, and the
    // operation-metrics count — and its anti-join must not re-run
    var insertsRef: Option[DataFrame] = None
    try {
      // Delta's multiple-match refusal: a target ROW (identified by
      // its (file, position)) hit by >1 source rows cannot
      // deterministically update/delete. With no matched clause
      // (joined is (__fn,__ri)-deduped) or unique source keys, every
      // target row is one row of `joined` and a flat count per action
      // gives the operation metrics. Otherwise dup refusal + metrics
      // run FUSED (r18): per target row (__fn,__ri) the matched-source
      // multiplicity and its action, then per action the row count and
      // the max multiplicity. Sound because the refusal fires before
      // any file is staged, and when it does NOT fire every group
      // holds exactly one row, so group counts ≡ per-row action counts.
      val actionCounts: Map[String, Long] =
        if (ordered.isEmpty) Map.empty
        else if (matched.isEmpty || srcKeysUnique)
          jobPhase("merge: operation metrics")(
            joined.groupBy("__action").count().collect())
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        else {
          val perAction = jobPhase("merge: dup refusal + metrics")(
            joined.groupBy(col("t.__fn"), col("t.__ri"))
              .agg(org.apache.spark.sql.functions.sum(
                when(isMatched, lit(1L)).otherwise(lit(0L))).as("__nm"),
                org.apache.spark.sql.functions.first(col("__action"))
                  .as("__act"))
              .groupBy(col("__act"))
              .agg(count(lit(1)).as("n"),
                org.apache.spark.sql.functions.max(col("__nm")).as("mx"))
              .collect())
          require(perAction.forall(_.getLong(2) <= 1L),
            "MERGE found a target row matched by " +
            "multiple source rows — the update/delete outcome would be " +
            "nondeterministic (Delta's multiple-match refusal); " +
            "de-duplicate the source on the ON keys first")
          perAction.map(r => r.getString(0) -> r.getLong(1)).toMap
        }
      val updateTags = ordered.collect {
        case (tag, _, Some(_)) => tag }.toSet
      val deleteTags = ordered.collect {
        case (tag, _, None) => tag }.toSet
      val setOf = ordered.collect {
        case (tag, _, Some(set)) => tag -> set }.toMap
      def outCol(f: org.apache.spark.sql.types.StructField): Column = {
        val keep: Column = tSide(f)
        setOf.foldLeft(keep) { case (acc, (tag, set)) =>
          set.find(_._1.equalsIgnoreCase(f.name)).map(_._2) match {
            case Some(v) => when(col("__action") === tag,
              v.cast(f.dataType)).otherwise(acc)
            case None => acc
          }
        }.as(f.name)
      }
      val survivors = joined
        .filter(!col("__action").isin(deleteTags.toSeq: _*))
        .select(outSchema.fields.map(outCol).toIndexedSeq: _*)
      // inserts: source keys absent from the table — any key present
      // anywhere lives in a matchedKeyFiles file by probe
      // construction. With a matched clause those files are touched,
      // so every present key is already a matched row of the pinned
      // `joined`; without one, the anti-join set is one
      // key-column-only (pruned, pushed-down) scan of those files.
      // First eligible NOT MATCHED clause wins; absent columns insert
      // NULL
      val inserts =
        if (notMatched.isEmpty || srcEmpty) None
        else {
          val unmatched = residual match {
            case Some(_) =>
              // residual ON: a source row equi-matching on keys but
              // failing the residual is NOT matched and must insert —
              // the anti-join tests the FULL condition against the
              // rows of the key-holding files (full match ⊆ equi
              // match, so those files bound the search). The target
              // side projects to keys + residual attrs so this second
              // read of the key-holding files stays as narrow as the
              // non-residual key-only path (ADVICE r17)
              if (matchedKeyFiles.isEmpty) srcMarked.alias("s")
              else {
                val probe0 = probeFiles(matchedKeyFiles)
                val tCols = (keys ++ residTCols).flatMap(n =>
                  probe0.columns.find(_.equalsIgnoreCase(n))).distinct
                srcMarked.alias("s").join(
                  probe0.select(tCols.map(col): _*).alias("t"),
                  joinCond, "left_anti")
              }
            case None =>
              val presentKeys =
                if (matchedKeyFiles.isEmpty)
                  srcKeys.limit(0) // nothing present: every key inserts
                else if (matched.nonEmpty)
                  joined.filter(isMatched)
                    .select(keys.map(k => col(s"s.$k").as(k)): _*).distinct()
                else d.read(matchedKeyFiles).select(keys.map(col): _*)
                  .join(bcast(srcKeys), keys, "left_semi").distinct()
              srcMarked.alias("s")
                .join(bcast(presentKeys), keys, "left_anti")
          }
          val iact = notMatched.zipWithIndex.foldRight(lit(-1)) {
            case ((NotMatchedInsert(c, _), i), acc) =>
              when(c.getOrElse(lit(true)), lit(i)).otherwise(acc)
          }
          def insCol(f: org.apache.spark.sql.types.StructField): Column =
            notMatched.zipWithIndex.foldRight(
              lit(null).cast(f.dataType): Column) { case ((cl, i), acc) =>
              cl.values.find(_._1.equalsIgnoreCase(f.name)).map(_._2) match {
                case Some(v) => when(col("__iact") === i,
                  v.cast(f.dataType)).otherwise(acc)
                case None => acc
              }
            }.as(f.name)
          Some(unmatched.withColumn("__iact", iact)
            .filter(col("__iact") >= 0)
            .select(outSchema.fields.map(insCol).toIndexedSeq: _*))
        }
      // size the insert side to the rewrite granularity: the anti-join
      // inherits the SOURCE scan's partitioning (~32 splits), which
      // would stage dozens of tiny files for an endpoint-sized batch —
      // every later read then reopens them all (measured: the q87 sf1
      // serve read 43 files vs 13, +0.16 s). coalesce (shuffle-free)
      // to the touched-file count; insert-ONLY merges keep the batch's
      // natural write parallelism (they are appends in disguise)
      val insertsSized = inserts.map { i =>
        val sized =
          if (touched.isEmpty) i
          else i.coalesce(math.max(1, math.min(touched.size, 32)))
        sized.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      insertsRef = insertsSized
      val outRows = insertsSized.map(survivors.unionByName(_))
        .getOrElse(survivors)
      enforceConstraints(outRows, "merge", base)
      if (pc.nonEmpty) requirePartConsistent(partMetaOf(outRows, pc), base)
      // CDF images stage CONCURRENTLY with the rewrite (r19, guide
      // §2.6 — overlap independent jobs): both passes read only the
      // pinned `joined`/insert frames and write to disjoint immutable
      // staging dirs, so neither observes the other; the refusal above
      // has already fired, so a refused merge still stages nothing.
      // A failure on either side leaves only uncommitted staging files
      // (vacuum's territory), exactly like a mid-stage crash before.
      val cdfFuture: scala.concurrent.Future[Seq[(String, Long)]] =
        if (!cdfImages) scala.concurrent.Future.successful(Seq.empty)
        else {
          val tCols = outSchema.fields.map(f =>
            tSide(f).as(f.name)).toIndexedSeq
          val pre = joined
            .filter(col("__action").isin(updateTags.toSeq: _*))
            .select(tCols: _*)
            .withColumn(ChangeTypeCol, lit("update_preimage"))
          val post = joined
            .filter(col("__action").isin(updateTags.toSeq: _*))
            .select(outSchema.fields.map(outCol).toIndexedSeq: _*)
            .withColumn(ChangeTypeCol, lit("update_postimage"))
          val del = joined
            .filter(col("__action").isin(deleteTags.toSeq: _*))
            .select(tCols: _*)
            .withColumn(ChangeTypeCol, lit("delete"))
          val ins = insertsSized.map(
            _.withColumn(ChangeTypeCol, lit("insert")))
          val all = (if (updateTags.nonEmpty) Seq(pre, post)
                     else Seq.empty) ++
            (if (deleteTags.nonEmpty) Seq(del) else Seq.empty) ++ ins
          if (all.isEmpty) scala.concurrent.Future.successful(Seq.empty)
          else scala.concurrent.Future(jobPhase("merge: stage CDF images")(
            stageCdf(all.reduce(_ unionByName _))))(GraftTable.stagingEc)
        }
      // chain-preserving restage on partitioned layouts: rewritten
      // rows land back under their (possibly UPDATED) value-dir
      // chains, so pruned reads keep working and a SET on a partition
      // key moves the row — Delta's partitioned-merge semantics
      // zero-row rewrite outputs drop (deleteWhere's rule); and an
      // insert-only merge that inserted nothing publishes no commit
      val (kept, st0) = dropEmpty(jobPhase("merge: stage rewrite + inserts")(
        dmlStage(outRows, base)), base)
      if (touched.isEmpty && kept.isEmpty) {
        // drain the concurrent CDF staging before abandoning the
        // commit, so no background job outlives the verb
        scala.concurrent.Await.ready(cdfFuture,
          scala.concurrent.duration.Duration.Inf)
        return base.version
      }
      val cdf = scala.concurrent.Await.result(cdfFuture,
        scala.concurrent.duration.Duration.Inf)
      // the committed schema carries the evolved PAYLOAD (partition
      // keys stay path-borne, recorded via partMeta)
      val evolvedPayload =
        if (newFields.isEmpty) base.schema
        else Some(org.apache.spark.sql.graft.shim.nullable(
          StructType(payload.fields ++ newFields)))
      // operation metrics (Delta's operationMetrics): per-outcome
      // row counts — update/delete from the fused dup-refusal pass
      // above, inserts DERIVED from the staged footer stats (r19,
      // guide §1.2: the old shape ran one more job + plan-compile per
      // commit to count a frame whose rows are already counted in the
      // footers it just wrote). staged rows = survivors + inserts, and
      // survivors = the non-delete action groups of the refusal pass
      // (exactly one row per group once the refusal passed), so
      // nInserted = Σ footer numRows − Σ non-delete action counts.
      // Falls back to the counting job iff any footer lacks a row
      // count (never observed — statsOf reads every staged footer).
      val nUpdated = updateTags.toSeq.map(actionCounts.getOrElse(_, 0L)).sum
      val nDeleted = deleteTags.toSeq.map(actionCounts.getOrElse(_, 0L)).sum
      val stagedRowsOpt: Option[Long] = {
        val per = kept.map(a => st0.get(a._1).flatMap(FileStats.numRows))
        if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
      }
      val nSurvivors = actionCounts.collect {
        case (tag, n) if !deleteTags(tag) => n }.sum
      val nInserted = insertsSized match {
        case None => 0L
        case Some(i) => stagedRowsOpt match {
          case Some(total) => total - nSurvivors
          case None => jobPhase("merge: insert count")(i.count())
        }
      }
      commit(commitAction, kept, touched, idempotent = true,
        basedOn = Some(base.version),
        stats = st0, schema = evolvedPayload, cdf = cdf,
        tolerateAppends = true,
        readFiles = (keyCandidates ++ bsCandidates).distinct,
        partMeta = if (pc.isEmpty) None else Some(partMetaOf(outRows, pc)),
        info = Some(s"mergeSourceStrategy=" +
          s"${if (srcSmall) "broadcast" else "shuffle"} " +
          s"sourceBytesEst=$srcBytes " +
          s"rowsUpdated=$nUpdated rowsDeleted=$nDeleted " +
          s"rowsInserted=$nInserted"))
    } finally {
      joined.unpersist()
      insertsRef.foreach(_.unpersist())
      ()
    }
  }

  /** Stage row-level change images under `cdf/<uuid>` — immutable
    * like data files, referenced by the commit's `cdf` actions,
    * reclaimed by vacuum when their commit leaves the log.
    */
  private def stageCdf(images: DataFrame): Seq[(String, Long)] = {
    val sub = s"$CdfDir/${java.util.UUID.randomUUID.toString.take(12)}"
    images.write.parquet(s"$root/$sub")
    fs.listStatus(new Path(rootPath, sub)).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => (s"$sub/${f.getPath.getName}", f.getLen))
  }

  /** OPTIMIZE: rewrite undersized live files (< targetBytes/2) into
    * ~targetBytes files in ONE atomic commit. Compliant files are not
    * touched — not even copied (they are already immutable table
    * files). File sizes come from the LOG, not a filesystem listing.
    * Content-neutral: the live row multiset is unchanged.
    */
  def compact(targetBytes: Long): Long = {
    require(targetBytes > 0, "targetBytes must be positive")
    val base = snapshot()
    val liveM = base.files
    base.partCols.headOption.foreach { pc =>
      throw new IllegalArgumentException(
        s"table is hive-partitioned on '$pc' — a flat rewrite would drop " +
          s"the partition paths and break pruned reads; use " +
          s"compactPartitioned(\"$pc\", targetBytes)")
    }
    val small = liveM.toSeq.map { case (p, m) => (p, m.bytes) }
      .filter(_._2 < targetBytes / 2).sortBy(_._1)
    if (small.size <= 1) return base.version // nothing to gain
    val smallBytes = small.map(_._2).sum
    val nOut = math.max(1L, (smallBytes + targetBytes - 1) / targetBytes).toInt
    // dv-aware: compacting a dv-carrying small file MATERIALIZES its
    // deletes (the remove clears the dv association)
    val merged = readLive(base, small.map(_._1)).repartition(nOut)
    val adds = stage(merged, base)
    // serializable vs row-level DML: a concurrent dv commit on one of
    // the victims would be silently dropped by our remove — abort on
    // any intervening non-append commit (blind appends stay fine)
    commit("compact", adds, small.map(_._1), basedOn = Some(base.version),
      stats = statsOf(adds, base), tolerateAppends = true)
  }

  /** REORG TABLE … APPLY (PURGE) (Delta's dv materializer): rewrite
    * ONLY the deletion-vector-carrying files without their dead rows
    * and clear the dvs, in one serializable content-neutral commit.
    * The live row multiset is unchanged — this trades the dv
    * anti-join at read time for one deferred rewrite, and re-opens
    * the raw-parquet paths (the DSv2 `graft` format) that refuse
    * while dvs are live. No-op when nothing carries a dv.
    */
  def purge(): Long = {
    val base = snapshot()
    val dvd = base.files.toSeq.filter(_._2.dv.isDefined).sortBy(_._1)
    if (dvd.isEmpty) return base.version
    require(Snapshot.partColsOf(base.files.keys).isEmpty,
      "dv on a hive-partitioned table should be impossible (MoR refuses)")
    val survivors = readLive(base, dvd.map(_._1))
    val adds = stage(survivors, base)
    commit("purge", adds, dvd.map(_._1), basedOn = Some(base.version),
      stats = statsOf(adds, base), schema = base.schema, tolerateAppends = true)
  }

  /** OPTIMIZE for a hive-partitioned table: undersized files rewrite
    * WITH their partition values (every key restored from the path,
    * re-staged under the full value-dir chain), so pruned reads keep
    * working — compact's contract, partition-aware. One atomic
    * commit. `partCol` names any one key of the layout (legacy
    * single-key signature); the rewrite always preserves ALL keys.
    */
  def compactPartitioned(partCol: String, targetBytes: Long): Long =
    compactPartitionedScoped(targetBytes, Seq.empty,
      anchor = Seq(partCol))

  /** The live files EVERY scope conjunct matches (token containment
    * per conjunct, conjuncts ANDed) — the shared scope semantics of
    * partition-scoped OPTIMIZE and its ZORDER form. An empty scope
    * matches everything.
    */
  private def scopeFilter[A](live: Seq[(String, A)],
                             scope: Seq[(String, Seq[String])])
      : Seq[(String, A)] = {
    val tokenSets = scope.map { case (c, vs) => vs.map(v => partToken(c, v)) }
    if (tokenSets.isEmpty) live
    else live.filter(f =>
      tokenSets.forall(_.exists(("/" + f._1).contains)))
  }

  /** Partition-SCOPED OPTIMIZE (Delta's `OPTIMIZE … WHERE`): compact
    * only the partitions where `scopeCol` ∈ `values` (logical,
    * unescaped string tokens — the partToken contract), in one
    * commit. Files of non-matching partitions are not read, not
    * rewritten, not even listed beyond the log resolution — a hot
    * ingest partition compacts without touching cold history.
    */
  def compactPartitions(scopeCol: String, values: Seq[String],
                        targetBytes: Long): Long =
    compactPartitionsWhere(Seq(scopeCol -> values), targetBytes)

  /** Multi-conjunct form (round 15): a live file is in scope when
    * EVERY (col, values) conjunct matches one of its value-dir
    * tokens — `WHERE (a = 'x' AND b = 'y')` addresses a single CELL
    * of a two-key layout, which the single-key form could only
    * over-approximate (it restages every `a = 'x'` cell).
    */
  def compactPartitionsWhere(scope: Seq[(String, Seq[String])],
                             targetBytes: Long): Long = {
    require(scope.nonEmpty && scope.forall(_._2.nonEmpty),
      "partition-scoped OPTIMIZE needs a non-empty scope")
    compactPartitionedScoped(targetBytes, scope,
      anchor = scope.map(_._1))
  }

  private def compactPartitionedScoped(targetBytes: Long,
                                       scope: Seq[(String, Seq[String])],
                                       anchor: Seq[String]): Long = {
    require(targetBytes > 0, "targetBytes must be positive")
    import org.apache.spark.sql.functions.col
    val base = snapshot()
    val pcs = base.partCols
    anchor.foreach { a =>
      require(pcs.contains(a),
        s"'$a' is not a partition column of the layout " +
          s"(${pcs.mkString(", ")})")
    }
    val live = base.files.toSeq.map { case (p, m) => (p, m.bytes) }
    val inScope = scopeFilter(live, scope)
    val small = inScope.filter(_._2 < targetBytes / 2)
    if (small.size <= 1) return base.version
    val smallBytes = small.map(_._2).sum
    val nOut = math.max(1L, (smallBytes + targetBytes - 1) / targetBytes).toInt
    val merged = readLive(base, small.map(_._1), keys = true)
      .repartition(nOut, pcs.map(col): _*)
    val adds = stagePartitioned(merged, pcs, base)
    commit("compact", adds, small.map(_._1), basedOn = Some(base.version),
      stats = statsOf(adds, base), tolerateAppends = true)
  }

  /** OPTIMIZE ZORDER: rewrite the WHOLE live set z-ordered on
    * (dimA, dimB) — Delta's OPTIMIZE ZORDER BY semantics on the
    * commit log: one range exchange on the Morton value
    * (ZOrderLayout's closed-form spread arithmetic), one atomic
    * commit swapping every live file for ~numFiles z-clustered
    * files whose footer stats are selective on BOTH dimensions.
    * Content-neutral like compact; unlike compact it is layout-
    * driven, not size-driven — run it when downstream scans slice on
    * two columns, after ingest has accreted arrival-ordered files.
    */
  def compactZOrder(dimA: String, dimB: String, numFiles: Int): Long =
    compactZOrder(Seq(dimA, dimB), numFiles)

  /** The N-dimensional form (2 ≤ N ≤ 4 — ZOrderLayout.zvalN's bit
    * budget): Delta's `OPTIMIZE ZORDER BY (a, b, c, …)`.
    */
  def compactZOrder(dims: Seq[String], numFiles: Int): Long = {
    val base = snapshot()
    val live = base.files
    require(live.nonEmpty, "cannot z-order an empty table")
    base.partCols.headOption.foreach { pc =>
      throw new IllegalArgumentException(
        s"table is hive-partitioned on '$pc' — a flat z-order rewrite " +
          "would drop the partition paths and break pruned reads")
    }
    // dv-aware whole-set rewrite: deletes materialize, dvs clear; the
    // files stage under PHYSICAL names like every other rewrite
    val cm = base.colmap
    val sub = freshSub()
    ZOrderLayout.writeZOrdered(toPhysical(readAt(base), cm),
      dims.map(d => org.apache.spark.sql.functions.col(cm.phys(d))),
      s"$root/$sub", numFiles)
    val adds = listStaged(sub)
    commit(s"zorder:${dims.mkString(",")}", adds, live.keys.toSeq,
      basedOn = Some(base.version), stats = statsOf(adds, base),
      tolerateAppends = true)
  }

  /** Partition-SCOPED OPTIMIZE ZORDER (round 15): rewrite every live
    * file the scope matches, Morton-clustered on (dimA, dimB), and
    * restage under the full value-dir chains — re-cluster a HOT
    * partition in place while every out-of-scope file stays
    * byte-identical (not read, not listed beyond the log resolution).
    * This is the composition [[compactZOrder]] (whole-table, refuses
    * partitioned layouts) and [[compactPartitionsWhere]] (scoped, but
    * size-driven) individually can't express: a two-key table's
    * `date=…/hour=…` cell accretes arrival-ordered files under
    * streaming ingest, and the downstream slices want both payload
    * dimensions clustered WITHIN that cell. Layout-driven like
    * compactZOrder — ALL matched files rewrite, not just undersized
    * ones; content-neutral (`zorder:` commit — the change feed skips
    * it). The range exchange on the z-value spans the scope; each
    * value-dir chain's rows land z-range-split within the chain (one
    * chain in scope ⇒ exactly the per-partition re-cluster).
    */
  def zorderPartitions(scope: Seq[(String, Seq[String])], dimA: String,
                       dimB: String, numFiles: Int): Long =
    zorderPartitions(scope, Seq(dimA, dimB), numFiles)

  /** The N-dimensional form (2 ≤ N ≤ 4 dims). */
  def zorderPartitions(scope: Seq[(String, Seq[String])],
                       dims: Seq[String], numFiles: Int): Long = {
    require(scope.nonEmpty && scope.forall(_._2.nonEmpty),
      "partition-scoped ZORDER needs a WHERE scope (whole-table " +
        "z-order refuses on partitioned layouts)")
    require(numFiles > 0, "numFiles must be positive")
    import org.apache.spark.sql.functions.col
    val base = snapshot()
    val pcs = base.partCols
    scope.map(_._1).foreach { a =>
      require(pcs.contains(a),
        s"'$a' is not a partition column of the layout " +
          s"(${pcs.mkString(", ")})")
    }
    require(!dims.exists(pcs.contains),
      s"z-order dimensions must be payload columns — " +
        s"'${dims.mkString("','")}' overlap the partition keys " +
        s"(${pcs.mkString(", ")}), whose clustering the value dirs " +
        "already provide")
    val live = base.files.keys.toSeq.sorted.map(p => (p, ()))
    val inScope = scopeFilter(live, scope).map(_._1)
    if (inScope.isEmpty) return base.version
    val restored = readLive(base, inScope, keys = true)
    // range-normalized z-value (round 16): raw keys past 2^31 would
    // alias in the spread masks and the re-cluster would silently
    // stop pruning — see ZOrderLayout.zvalNormalizedOver
    val clustered = restored
      .withColumn("__z",
        ZOrderLayout.zvalNormalizedOver(restored, dims.map(col)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    val adds = stagePartitioned(clustered, pcs, base)
    commit(s"zorder:${dims.mkString(",")}", adds, inScope,
      basedOn = Some(base.version), stats = statsOf(adds, base),
      tolerateAppends = true)
  }

  /** Adopt a caller-staged parquet directory as ONE atomic (and
    * optionally tagged-idempotent) append commit — for sinks whose
    * layout step has its own writer (s10's per-segment z-ordered
    * write): the caller writes the segment OUTSIDE the table, then
    * adoption is a single directory rename into `data/` plus the
    * commit, so readers never observe a partial segment. Tagged
    * adoption records the action as `append@tag` — it IS an append,
    * so the change feed and replay-idempotence rules apply to it
    * unchanged; a replayed tag deletes the staged dir and no-ops.
    */
  def adoptDir(stagedDir: String, tag: String = null): Option[Long] = {
    val staged = new Path(stagedDir)
    // replay: the segment is already in — drop the re-staged copy
    tagged("append", tag, onReplay = () => { fs.delete(staged, true); () }) {
      (action, base) =>
        // flat-append guard (append's rule): adopted segments are
        // listed flat, so they cannot serve a partitioned layout
        base.partCols.headOption.foreach { pc =>
          throw new IllegalArgumentException(
            s"table is hive-partitioned on '$pc' — adoptDir stages a " +
              "FLAT segment that pruned reads would miss; land through " +
              s"appendPartitioned(df, \"$pc\") instead")
        }
        // schema recorded from the segment's own footers (no DataFrame
        // here), enforced against the table like any other append
        val segment = s.read.parquet(stagedDir)
        val sch = appendSchema(segment.schema, mergeSchema = false, base)
        enforceConstraints(segment, "adoptDir", base)
        val sub = freshSub()
        if (!fs.exists(new Path(rootPath, DataDir)))
          fs.mkdirs(new Path(rootPath, DataDir))
        require(fs.rename(staged, new Path(rootPath, sub)),
          s"adopt rename failed: $stagedDir -> $root/$sub")
        val adds = listStaged(sub)
        commit(action, adds, Seq.empty, idempotent = true,
          stats = statsOf(adds, base),
          schema = Some(sch))
    }
  }

  /** CHANGE FEED (file-level): the rows added by commits in
    * (sinceVersion, latest] — the incremental-consumer primitive
    * (Delta CDF's append slice): a downstream pass reads exactly the
    * new data, never the table. Exact for append-shaped history; a
    * non-append commit in the range (overwrite/compact/replace
    * rewrites rows that are not new) throws rather than serving a
    * wrong feed — the consumer falls back to [[changeFeed]] (row-
    * level images, serves merge/delete/compact too) or a snapshot
    * diff (q51's shape). Returns None when the range added nothing.
    */
  def changesSince(sinceVersion: Long,
                   untilVersion: Long = Long.MaxValue): Option[DataFrame] = {
    val appends = appendSliceVersions(sinceVersion, untilVersion)
      .collect { case (v, files) if files.nonEmpty => readCommit(v) }.toSeq
    // read()'s shape (no partition keys); one scan per distinct
    // (schema, mapping) the range's commits record — one, unless the
    // range crosses a mergeSchema evolution
    val scans = appends.groupBy(c => (c.schemaJson, c.colmapJson)).values.toSeq
      .sortBy(_.head.version).map(cs => appendedRows(cs, keys = false))
    if (scans.isEmpty) None
    else Some(scans.reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  /** The rows append commits `cs` added, through [[readMeta]] under
    * the schema, column mapping and (with `keys`) partition keys their
    * own lines record — every commit re-records them, so no snapshot
    * is folded per version. `cs` all record the same lines; the head's
    * are used.
    */
  private def appendedRows(cs: Seq[Commit], keys: Boolean): DataFrame = {
    val c = cs.head
    readMeta(cs.flatMap(_.adds).map(a => a.path -> FileMeta(a.bytes, a.stats)),
      c.schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType]),
      c.colmapJson.fold(GraftTable.ColMap.empty)(GraftTable.colmapFromJson),
      if (keys) c.partMetaJson.fold(Seq.empty[GraftTable.PartMeta])(
        GraftTable.partMetaFromJson)
      else Seq.empty)
  }

  /** The append slices of (since, until] — what [[changesSince]] and
    * the streaming source serve — one (version, path-sorted absolute
    * files with their log-recorded sizes) entry per commit in (since,
    * until]. The per-version intra-commit file ORDER is what makes a
    * file-granular stream offset (version, fileIndex) deterministic
    * forever — commits are immutable and the sort is total, so the
    * same offset always names the same file across restarts (the
    * admission-controlled source's replay contract). Metadata-only
    * commits contribute an empty file list; non-append commits refuse
    * (their adds are rewrites, not new data).
    *
    * LAZY: commits are read (and the non-append refusal raised) only
    * as the iterator is PULLED — what keeps an
    * admission-capped `latestOffset` walk O(admitted commits) per
    * trigger instead of O(remaining backlog): a 100k-commit bootstrap
    * at maxFilesPerTrigger=small would otherwise do quadratic work
    * across its triggers re-materializing the whole tail every time.
    * The vacuumed-gap check stays EAGER (it's O(version list), and a
    * gap anywhere in the range poisons the feed's determinism).
    * Lazy refusal also matches Delta's semantics: batches BEFORE a
    * historical rewrite still serve; the trigger that reaches the
    * rewrite fails loudly.
    */
  private[sources] def appendSliceVersions(sinceVersion: Long,
                                           untilVersion: Long)
      : Iterator[(Long, Seq[(String, Long)])] =
    rangeVersions(sinceVersion, untilVersion).iterator.map { v =>
      val c = readCommit(v)
      // constraint add/drop commits are metadata-only: row-neutral for
      // any feed (a stream must not die because a CHECK was added)
      if (!(c.action.startsWith("append") ||
            c.action.startsWith("constraint:") ||
            c.action.startsWith("protocol:")))
        throw new IllegalStateException(
          s"change feed undefined across non-append commits: " +
            s"v${c.version}=${c.action} — use changeFeed() for " +
            "row-level images")
      (c.version,
        c.adds.map(a => (s"$root/${a.path}", a.bytes)).sortBy(_._1))
    }

  /** The gap-checked version list of (since, until∧latest] — the
    * eager half every feed range shares (a vacuumed gap anywhere in
    * the range poisons the feed's determinism, so it refuses before
    * any commit is read).
    */
  private def rangeVersions(since: Long, untilVersion: Long): Seq[Long] = {
    val l = log()
    val until = math.min(untilVersion, l.latest)
    val vs = l.versions.filter(v => v > since && v <= until)
    val listed = vs.toSet
    val missing = ((since + 1) to until).filterNot(listed)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"change feed range ($since, $until] has vacuumed commits: " +
        s"v${missing.head}..v${missing.last}")
    vs
  }

  /** ROW-LEVEL CHANGE FEED (Delta CDF): every row change committed in
    * (sinceVersion, until], as (payload…, _change_type,
    * _commit_version):
    *   - append commits serve their added files as `insert` rows;
    *   - merge/update/delete commits serve the pre/post/delete images
    *     staged at commit time ([[merge]]/[[update]]/[[deleteWhere]]
    *     write them);
    *   - compact/zorder commits are content-neutral — no rows;
    *   - replace commits (replaceWhere / dynamic overwrite) serve
    *     their staged delete+insert images WHEN the write enabled
    *     them (`cdfImages = true`, round 16 — Delta's CDF-on
    *     behavior); a replace WITHOUT images still refuses — the
    *     feed never lies;
    *   - overwrite/restore commits have no row-level images
    *     (they rewrite whole scopes) — the feed still REFUSES those
    *     ranges rather than lying; fall back to a snapshot diff.
    * That rule lives once, in [[cdfSliceVersions]] — the walk the CDF
    * stream plans from too. Append slices read through [[readMeta]]
    * under their own commit's schema, column mapping and partition
    * keys. Returns None when the range changed nothing.
    */
  def changeFeed(sinceVersion: Long,
                 untilVersion: Long = Long.MaxValue): Option[DataFrame] = {
    import org.apache.spark.sql.functions.lit
    val slices = cdfSliceVersions(sinceVersion, untilVersion).toSeq.map {
      case (v, _, Some(insert)) =>
        // partitioned appends carry their keys in the PATHS; the image
        // slices store them as columns (the DML restore) — restore
        // here too or the union would null-fill the keys on exactly
        // the inserted rows
        appendedRows(Seq(readCommit(v)), keys = true)
          .withColumn(ChangeTypeCol, lit(insert))
          .withColumn(VersionCol, lit(v))
      case (v, images, None) =>
        s.read.parquet(images.map(_._1): _*).withColumn(VersionCol, lit(v))
    }
    if (slices.isEmpty) None
    // allowMissingColumns: a feed range may CROSS an additive schema
    // evolution — pre-evolution slices null-fill the widened columns
    // (exactly how the snapshot read serves their files)
    else Some(slices.reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  /** The commits in (since, until] as CDF slices: (version, absolute
    * files, constant change type) — `Some("insert")` for append slices
    * (payload-shaped files), `None` for DML image files (they carry
    * their own `_change_type` column). Content-neutral commits
    * contribute nothing; whole-scope rewrites refuse (changeFeed's
    * rule). [[changeFeed]] and the streaming CDF source both plan from
    * exactly this. LAZY (appendSliceVersions' rule): the
    * admission-capped CDF walk reads only the commits it admits per
    * trigger, and the refusal on a whole-scope rewrite fires when the
    * walk REACHES it.
    */
  private[sources] def cdfSliceVersions(since: Long, until: Long)
      : Iterator[(Long, Seq[(String, Long)], Option[String])] =
    rangeVersions(since, until).iterator.map(readCommit).flatMap { c =>
      if (c.action.startsWith("append")) {
        val fs = c.adds.map(a => (s"$root/${a.path}", a.bytes))
          .sortBy(_._1)
        if (fs.isEmpty) None else Some((c.version, fs, Some("insert")))
      } else if (GraftTable.isMergeAction(c.action) ||
          c.action == "delete" || c.action == "update" ||
          (GraftTable.isReplaceAction(c.action) && c.cdf.nonEmpty)) {
        if (c.cdf.isEmpty) None
        else Some((c.version,
          c.cdf.map(f => (s"$root/${f._1}", f._2)).sortBy(_._1),
          None))
      } else if (c.action == "compact" || c.action == "purge" ||
          c.action.startsWith("zorder:") ||
          c.action.startsWith("constraint:") ||
        c.action.startsWith("protocol:")) None
      else throw new IllegalStateException(
        "row-level change feed undefined across whole-scope rewrites: " +
          s"v${c.version}=${c.action} — fall back to a snapshot diff")
    }

  /** Exactly-once incremental consumption of the change feed — the
    * log-following loop a downstream pipeline runs per schedule
    * (Delta's streaming model reduced to its batch essence): a
    * durable CURSOR (itself a tiny GraftTable ledger at `cursorDir`)
    * records the last version consumed; each call returns the rows
    * committed since then plus a commit callback that advances the
    * cursor — call order is load → process → `commit()`, so a crash
    * before commit re-presents the same batch (at-least-once into an
    * idempotent sink, IncrementalFiles' contract, here over TABLE
    * COMMITS instead of landed files). Propagates changesSince's
    * refusal of non-append ranges.
    */
  def nextChanges(cursorDir: String)
      : (Option[DataFrame], Long, Long, () => Unit) =
    nextFrom(cursorDir)(changesSince(_, _))

  /** [[nextChanges]] for the ROW-LEVEL feed (round 16 — the
    * reference's `sync_tags` consumer, app.py:6631, downstream of the
    * monthly Master_data re-land): the cursor loop over
    * [[changeFeed]] instead of the append-only changesSince, so the
    * consumer receives update/delete/insert IMAGES — and, when the
    * backfill was written with `cdfImages = true`, it REPLAYS the
    * q97 replace shape as deltas instead of refusing (an imageless
    * replace still propagates changeFeed's loud refusal — the
    * consumer must full-rebuild, never silently skip). Same
    * exactly-once discipline: load → process → `commit()`.
    */
  def nextRowChanges(cursorDir: String)
      : (Option[DataFrame], Long, Long, () => Unit) =
    nextFrom(cursorDir)(changeFeed(_, _))

  /** The cursor loop both consumers share: `feed` over (consumed,
    * latest], and the callback that records `latest` as consumed.
    */
  private def nextFrom(cursorDir: String)
                      (feed: (Long, Long) => Option[DataFrame])
      : (Option[DataFrame], Long, Long, () => Unit) = {
    val cursor = GraftTable.forPath(s, cursorDir)
    val from =
      if (cursor.latestVersion == 0) 0L
      else cursor.read().agg(org.apache.spark.sql.functions.max("consumed_version"))
        .head.getLong(0)
    val to = latestVersion
    val df = if (to > from) feed(from, to) else None
    val commitFn = () => {
      import s.implicits._
      cursor.append(Seq(to).toDF("consumed_version").coalesce(1))
      ()
    }
    (df, from, to, commitFn)
  }

  /** RESTORE: make version `v`'s live set the CURRENT table state as
    * a new commit (Delta RESTORE) — a roll-forward undo, never a
    * history rewrite: the bad commits stay in the log for audit, the
    * restored state gets a fresh version, and no data file moves
    * (the old files are still on disk because removes are logical).
    */
  /** RESTORE to the newest version committed at or before `tsMillis`
    * (Delta's `RESTORE … TO TIMESTAMP AS OF`): resolved through the
    * same commit wall-clocks `timestampAsOf` reads use, then
    * delegated to [[restore]] — one resolution rule for both the
    * read and the undo verb.
    */
  def restoreTimestamp(tsMillis: Long): Long =
    restore(versionAt(tsMillis).getOrElse(
      throw new IllegalArgumentException(
        s"cannot restore: no commit at or before timestamp $tsMillis " +
          s"(epoch millis) in $root")))

  def restore(v: Long): Long = {
    require(v >= 1 && fs.exists(commitPath(v)),
      s"cannot restore to unknown version $v")
    val to = snapshot(v)
    val target = to.files // may be legitimately EMPTY (delete-all):
    // the restore then removes every live file and the recorded schema
    // keeps the empty version readable
    val base = snapshot()
    val current = base.files
    // a file whose DV STATE differs between current and target is
    // re-established by remove+add(+dv) in the one commit (the fold
    // applies removes, then adds — fresh entry, dv=None — then dvs),
    // so restore round-trips dv'd versions exactly
    val readds = target.toSeq.filter { case (p, m) =>
      !current.contains(p) || current(p).dv != m.dv }
    val removes = current.keySet.filter(p =>
      !target.contains(p) || target(p).dv != current(p).dv).toSeq
    commit(s"restore:$v", readds.map { case (p, m) => (p, m.bytes) }, removes,
      basedOn = Some(base.version),
      stats = readds.collect {
        case (p, FileMeta(_, Some(st), _)) => p -> st }.toMap,
      schema = to.schema,
      colmap = Some(to.colmap), // epoch-correct names after restore
      // partition metadata is epoch-correct too: restoring across the
      // partitioned epoch re-establishes (or clears) the row AS OF v
      partMeta = Some(to.partMeta).filter(_.nonEmpty), clearPartMeta = true,
      dvs = readds.flatMap { case (p, m) => m.dv.map(p -> _) })
  }

  /** SHALLOW CLONE (Delta's `CLONE`): a zero-copy table at `destRoot`
    * whose first commit references THIS table's live files at
    * `version` by ABSOLUTE path — a metadata-only commit; no data
    * file is read or copied, so cloning a 100 TB table costs one
    * O(files) log write. Schema, CHECK constraints, column mapping,
    * per-file stats (so data skipping keeps pruning), deletion
    * vectors and the bloom-index config all carry over.
    *
    * The clone then lives its own life: copy-on-write DML rewrites
    * externally-referenced files into clone-local files as rows are
    * touched, compaction localizes wholesale, and `vacuum` on the
    * clone sweeps only under the clone's root — it can never delete
    * source data. The flip side is Delta's exact caveat: `vacuum`
    * on the SOURCE does not know about clones, so retain source
    * history at least as long as any clone references its files.
    * The change feed refuses ranges crossing the clone commit
    * (whole-scope, like overwrite/restore).
    */
  def cloneTo(destRoot: String, version: Long = -1L): GraftTable = {
    val v = if (version < 0) latestVersion else version
    require(v >= 1 && fs.exists(commitPath(v)),
      s"cannot clone unknown version $v")
    val dest = new GraftTable(s, destRoot)
    require(dest.latestVersion == 0,
      s"clone destination $destRoot already holds a table")
    val src = snapshot(v)
    val meta = src.files
    val adds = meta.toSeq.sortBy(_._1)
      .map { case (p, m) => (absOf(p), m.bytes) }
    dest.commit(s"clone:$root@$v", adds, Seq.empty,
      stats = meta.collect {
        case (p, m) if m.stats.isDefined => absOf(p) -> m.stats.get },
      schema = src.schema,
      constraints = Some(src.constraints),
      dvs = meta.toSeq.sortBy(_._1).flatMap { case (p, m) =>
        m.dv.map(d => absOf(p) -> d.copy(path = absOf(d.path))) },
      bloomIdx = Some(src.bloomIndex),
      colmap = Some(src.colmap))
    // carry the COMMITTED-TAG LEDGER (Delta CLONE copies txn
    // identifiers for exactly this): a streaming query repointed at
    // the clone with its old checkpoint must see its already-landed
    // epochs as committed, or replay would double-land them. Seeded
    // as a v1 checkpoint so later checkpoints (which fold the newest
    // ledger forward) and vacuum both preserve it.
    if (src.tags.nonEmpty) {
      val seeded = dest.snapshot(1L)
      val withTags = seeded.copy(tags = seeded.tags ++ src.tags)
      dest.writeCheckpoint(withTags)
      dest.remember(withTags) // the seeded ledger, not the bare commit
    }
    dest
  }

  /** SYMLINK-MANIFEST export (Delta's `GENERATE
    * symlink_format_manifest`): write a text manifest under
    * `root/_graft_manifest/` listing the absolute data-file paths of
    * version `v` (newline-separated, sorted), so an external engine
    * that speaks parquet-but-not-the-commit-log (Trino / Presto /
    * DuckDB / Athena-style) can read the snapshot from the manifest
    * alone. Refuses when the version carries deletion vectors or an
    * active column mapping — raw files would resurrect deleted rows
    * or expose physical column names (the reader-feature gate, same
    * rule as the DSv2 raw path). Returns the manifest file's path.
    */
  def exportManifest(version: Long = -1L): String = {
    val v = if (version < 0) latestVersion else version
    require(v >= 1 && fs.exists(commitPath(v)),
      s"cannot export manifest for unknown version $v")
    // the ONE reader-feature gate (protocol-row vocabulary) — shared
    // with the DSv2 raw scan path
    val at = snapshot(v)
    rawReadRefusal(at, "manifest export").foreach(m =>
      throw new IllegalArgumentException(m))
    val dir = new Path(rootPath, ManifestDir)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val files = at.files.keys.toSeq.sorted.map(absOf)
    Snapshot.partColsOf(at.files.keys) match {
      case Seq() =>
        val out = new Path(dir, f"manifest-v$v%012d.txt")
        val body = files.mkString("", "\n", "\n")
          .getBytes(UTF_8)
        val os = fs.create(out, true)
        os.write(body); os.close()
        out.toString
      case pcs =>
        // partition values live in the PATHS, not the files, so a
        // single flat path list would silently lose the partition
        // columns. The symlink-manifest convention (Delta's
        // `_symlink_format_manifest`, Presto/Athena's SymlinkTextInput
        // layout) solves this: ONE manifest per value-dir CHAIN
        // (`country=…/source=…/manifest.txt` on a two-key layout)
        // under the manifest root — the external engine declares the
        // table PARTITIONED BY (<keys…>) over that root and recovers
        // every value from each manifest's directory chain, exactly
        // like readPartitionedColumn recovers them from data paths.
        val base = new Path(dir, f"manifest-v$v%012d")
        if (fs.exists(base)) fs.delete(base, true)
        // value dirs go into the manifest layout in their ESCAPED
        // (on-disk) form — exactly the symlink-manifest convention:
        // the external engine's partition discovery unescapes them
        // the same way it unescapes data paths
        files.groupBy { p =>
          val segs = p.split("/").dropRight(1).toSeq.collect {
            case seg @ GraftTable.PartSegment(_, _) => seg
          }
          if (segs.size != pcs.size) throw new IllegalStateException(
            s"live file without the full ${pcs.mkString("/")} " +
              s"value-dir chain: $p")
          segs.mkString("/")
        }.foreach { case (chain, files) =>
          val sub = new Path(base, chain)
          fs.mkdirs(sub)
          val os = fs.create(new Path(sub, "manifest.txt"), true)
          os.write(files.sorted.mkString("", "\n", "\n").getBytes(UTF_8))
          os.close()
        }
        base.toString
    }
  }

  /** FSCK (Delta's `FSCK REPAIR TABLE`): drop live-set references to
    * data files that no longer exist on storage (deleted out-of-band
    * — an over-eager lifecycle policy, a converted table whose
    * originals were removed, a restore over a vacuumed horizon), so
    * reads stop failing on the missing files. One metadata-only
    * `fsck` commit removing exactly the missing references; returns
    * them (dry run: report only, commit nothing). Rows in missing
    * files are LOST by definition — fsck makes the loss explicit and
    * the table servable, it cannot recover data. Cost: one
    * O(live files) driver-side existence sweep, no Spark job.
    */
  def fsck(dryRun: Boolean = false): Seq[String] = {
    val base = snapshot()
    require(base.version > 0, s"no graft table at $root")
    // a live file whose DV SIDECAR is missing is lost too: serving it
    // raw would RESURRECT rows a takedown deleted (unsound), so the
    // sound repair is dropping the whole reference — conservative
    // (surviving rows go with it), explicit, never a resurrection
    val missing = base.files.toSeq.collect {
      case (p, m) if !fs.exists(new Path(absOf(p))) ||
        m.dv.exists(d => !fs.exists(new Path(absOf(d.path)))) => p
    }.sorted
    if (!dryRun && missing.nonEmpty) {
      commit("fsck", Seq.empty, missing, basedOn = Some(base.version))
      ()
    }
    missing
  }

  /** Physically delete data files unreferenced by every retained
    * version (the newest `retainVersions`) and drop the older log
    * entries. Time travel before the horizon is gone after this —
    * the one destructive operation in the protocol. Also reclaims
    * ORPHANS: files staged by a writer that crashed before its
    * commit published (they are referenced by no version at all),
    * and the change images of vacuumed DML commits.
    * Retention is the caller's safety contract with LIVE readers:
    * a snapshot pinned at a version below the horizon reads files
    * vacuum may delete — choose `retainVersions` to exceed the age
    * of any reader still running (Delta's retention-window rule).
    * The checkpoint written at the horizon carries the committed-tag
    * ledger, so replay-idempotence survives the dropped commits.
    */
  def vacuum(retainVersions: Int = 2,
             orphanGraceMillis: Long = 10L * 60 * 1000): Unit =
    vacuumExecute(vacuumPlan(retainVersions, orphanGraceMillis))

  /** Retention as a WALL-CLOCK window (Delta's `RETAIN n HOURS`),
    * mapped to [[vacuumPlan]]'s version-count horizon through the
    * commit header wall-clocks: every version committed within the
    * last `hours` is retained (plus always the newest), and legacy
    * pre-timestamp commits (ts = -1) count as in-window — a clock
    * they don't carry must never age them out. O(versions × one
    * header line), the same cost class as [[versionAt]].
    */
  def retainVersionsForHours(hours: Double): Int = {
    require(hours >= 0, s"RETAIN hours must be non-negative, got $hours")
    val cutoff = System.currentTimeMillis() - (hours * 3600 * 1000).toLong
    val vs = versions()
    if (vs.isEmpty) 1
    else math.max(1, vs.count { v =>
      val ts = readHeaderTs(v)
      ts < 0 || ts >= cutoff
    })
  }

  /** [[vacuum]] with an hours-based retention window. */
  def vacuumHours(hours: Double,
                  orphanGraceMillis: Long = 10L * 60 * 1000): Unit =
    vacuum(retainVersionsForHours(hours), orphanGraceMillis)

  /** Execute EXACTLY `plan` — the dry-run/execution can't-disagree
    * contract made literal: a caller that showed a plan to an
    * operator (the `GRAFT VACUUM DRY RUN` flow) then executes that
    * same plan object, never a recomputation whose grace-window
    * clock or retention horizon may have drifted in between.
    */
  def vacuumExecute(plan: GraftTable.VacuumPlan): Unit = {
    if (versions().isEmpty) return // nothing committed: nothing to reclaim
    // checkpoint the horizon so resolution (and the tag ledger) never
    // needs dropped entries
    if (plan.horizon > 0 && !fs.exists(ckptPath(plan.horizon)))
      writeCheckpoint(snapshot(plan.horizon))
    plan.files.foreach { case (rel, _) =>
      fs.delete(new Path(rootPath, rel), false) }
    plan.commits.foreach(v => fs.delete(commitPath(v), false))
    plan.checkpoints.foreach { v =>
      fs.delete(ckptPath(v), false)
      fs.delete(ckptParquetPath(v), false)
      ()
    }
  }

  /** What vacuum WOULD reclaim — the DRY RUN an operator checks
    * before the destructive verb (Delta's `vacuum(dryRun=true)`):
    * (relpath, bytes) of every unreferenced data/cdf/dv parquet past
    * the grace window (superseded dv sidecars, crash-orphaned stages,
    * files only dropped versions reference) plus the commit and
    * checkpoint log files behind the retention horizon. Read-only:
    * nothing is deleted, no checkpoint is published. `vacuum` itself
    * executes exactly this plan, so dry-run and execution can never
    * disagree on a snapshot.
    */
  def vacuumPlan(retainVersions: Int = 2,
                 orphanGraceMillis: Long = 10L * 60 * 1000)
      : GraftTable.VacuumPlan = {
    val l = log()
    val vs = l.versions
    if (vs.isEmpty)
      return GraftTable.VacuumPlan(0L, Seq.empty, Seq.empty, Seq.empty)
    val keep = vs.takeRight(math.max(1, retainVersions))
    // one fold across the retained versions, not one resolution each
    val keptMeta = keep.tail.scanLeft(resolve(keep.head, l)) { (at, v) =>
      if (v == at.version + 1) at(readCommit(v)) else resolve(v, l)
    }.map(_.files)
    val referenced = keptMeta.flatMap(_.keys).toSet
    val referencedCdf = keep.flatMap(v => readCommit(v).cdf.map(_._1)).toSet
    // dv refs are DIRECTORIES (one staged dv dir may serve several
    // data files): any parquet under a retained version's dv dir lives
    val referencedDv = keptMeta
      .flatMap(_.values.flatMap(_.dv.map(_.path))).toSet
    val horizon = keep.head
    // full recursive sweep (partitioned tables nest value dirs under
    // data/<uuid>/). The grace window protects an IN-FLIGHT writer:
    // staged-but-not-yet-committed files are unreferenced by design
    // (data lands before the commit), and deleting them instantly
    // would let a vacuum racing a slow writer corrupt the commit that
    // writer is about to publish — only unreferenced files OLDER than
    // the window are reclaimed (Delta's retention-age rule).
    val now = System.currentTimeMillis()
    val out = Seq.newBuilder[(String, Long)]
    def sweep(p: Path, rel: String, refs: String => Boolean): Unit =
      fs.listStatus(p).foreach { st =>
        val r = s"$rel/${st.getPath.getName}"
        if (st.isDirectory) sweep(st.getPath, r, refs)
        else if (st.getPath.getName.endsWith(".parquet") &&
          !refs(r) &&
          now - st.getModificationTime >= orphanGraceMillis)
          out += ((r, st.getLen))
      }
    val dataRoot = new Path(rootPath, DataDir)
    if (fs.exists(dataRoot)) sweep(dataRoot, DataDir, referenced)
    val cdfRoot = new Path(rootPath, CdfDir)
    if (fs.exists(cdfRoot)) sweep(cdfRoot, CdfDir, referencedCdf)
    val dvRoot = new Path(rootPath, DvDir)
    if (fs.exists(dvRoot)) sweep(dvRoot, DvDir,
      r => referencedDv.exists(d => r.startsWith(d + "/")))
    GraftTable.VacuumPlan(horizon, out.result().sorted,
      vs.filter(_ < horizon), l.checkpoints.filter(_ < horizon))
  }
}

object GraftTable {
  /** Driver-side staging pool: lets one commit overlap its independent
    * staging writes (rewrite vs CDF images — guide §2.6). Daemon
    * threads, unbounded-but-idle-reaped (cached pool) — the verb always
    * Awaits its futures before returning, so nothing outlives a commit.
    */
  private[sources] lazy val stagingEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool(
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger(0)
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-staging-${n.incrementAndGet()}")
            t.setDaemon(true); t
          }
        }))
  private val LogDir = "_graft_log"
  private val ManifestDir = "_graft_manifest"
  private val DataDir = "data"
  /** An add path recorded ABSOLUTE — a shallow clone's reference into
    * its source table. Everything else is root-relative.
    */
  private[sources] def isExternal(p: String): Boolean =
    p.startsWith("/") || p.contains("://")
  private val CdfDir = "cdf"
  private val DvDir = "dv"
  private val VerPrefix = "v"
  private val CkptPrefix = "ckpt-v"
  private val Suffix = ".txt"
  private val CheckpointEvery = 8L
  private val MaxRetries = 64
  /** One listing of the log: committed versions and checkpoint
    * versions, ascending.
    */
  private final case class LogListing(versions: Seq[Long],
                                      checkpoints: Seq[Long]) {
    def latest: Long = versions.lastOption.getOrElse(0L)
  }
  /** [[GraftTable.commit]]'s signal that its tagged action is already
    * in the predecessor: the call is a replay and publishes nothing.
    */
  private object TagReplayed extends scala.util.control.ControlThrowable
  /** The CDF change-type / commit-version column names (Delta's). */
  val ChangeTypeCol = "_change_type"
  val VersionCol = "_commit_version"

  /** A scoped-replace commit action — plain or tag-suffixed
    * (`tagged` records micro-batch replays as `replace@<tag>`).
    */
  private[sources] def isReplaceAction(a: String): Boolean =
    a == "replace" || a.startsWith("replace@")

  /** A clause-merge commit — plain or replay-tagged (round 17:
    * `mergeInto(tag=…)` records `merge@<tag>`, the foreachBatch
    * streaming-upsert recipe). Every action classifier must accept
    * both or a tagged merge's CDF images would refuse to serve.
    */
  private[sources] def isMergeAction(a: String): Boolean =
    a == "merge" || a.startsWith("merge@")

  /** What [[GraftTable.rewriteWhere]] staged: the probed files it
    * replaces, the non-empty rewrite outputs, their footer stats, and
    * the staged change images (empty when the verb stages none).
    */
  private final case class Rewritten(touched: Seq[String],
                                     adds: Seq[(String, Long)],
                                     stats: Map[String, String],
                                     cdf: Seq[(String, Long)])

  /** A vacuum's reclaim set: unreferenced (relpath, bytes) files past
    * the grace window, plus the log files behind `horizon`.
    */
  case class VacuumPlan(horizon: Long, files: Seq[(String, Long)],
                        commits: Seq[Long], checkpoints: Seq[Long]) {
    def bytes: Long = files.map(_._2).sum
  }
  /** Schemes whose fail-if-exists rename/link is single-winner. */
  private val AtomicRenameSchemes = Set("file", "hdfs", "viewfs")

  private[graft] case class AddFile(path: String, bytes: Long,
                                    stats: Option[String])

  /** A DELETION VECTOR reference: data file → positional sidecar
    * (Delta's DV): `path` is the dv parquet (rows of (__file basename,
    * __pos row index) naming this data file's DEAD rows), `nDeleted`
    * its cardinality for this data file (metadata-only COUNT
    * subtracts it). A newer dv for the same data file SUPERSEDES the
    * older one (the writer unions the old positions in), and a
    * `remove` of the data file drops the association with it.
    */
  private[graft] case class DvRef(path: String, bytes: Long, nDeleted: Long)

  private[graft] case class FileMeta(bytes: Long, stats: Option[String],
                                     dv: Option[DvRef] = None)

  private val consMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private[sources] def constraintsToJson(cs: Seq[(String, String)]): String = {
    val arr = consMapper.createArrayNode()
    cs.foreach { case (n, e) =>
      val o = arr.addObject(); o.put("n", n); o.put("e", e); ()
    }
    consMapper.writeValueAsString(arr)
  }

  private[sources] def constraintsFromJson(j: String): Seq[(String, String)] = {
    val r = consMapper.readTree(j)
    (0 until r.size).map(i =>
      (r.get(i).get("n").asText, r.get(i).get("e").asText))
  }

  /** Column mapping state: `map` = logical → physical for every
    * column whose names differ; `dead` = tombstoned physical names of
    * dropped columns (a re-added logical name must map to a FRESH
    * physical name, never a tombstoned one).
    */
  private[graft] case class ColMap(map: Map[String, String],
                                   dead: Seq[String]) {
    def isIdentity: Boolean =
      dead.isEmpty && map.forall { case (l, p) => l == p }
    def phys(logical: String): String = map.getOrElse(logical, logical)
    /** The physical-file view of a recorded (logical) schema. */
    def physical(st: StructType): StructType =
      if (isIdentity) st
      else StructType(st.fields.map(f => f.copy(name = phys(f.name))))
  }
  private[graft] object ColMap {
    val empty: ColMap = ColMap(Map.empty, Seq.empty)
  }

  private[sources] def colmapToJson(cm: ColMap): String = {
    val o = consMapper.createObjectNode()
    val m = o.putObject("m")
    cm.map.toSeq.sortBy(_._1).foreach { case (l, p) => m.put(l, p); () }
    val d = o.putArray("d")
    cm.dead.foreach { p => d.add(p); () }
    consMapper.writeValueAsString(o)
  }

  private[sources] def colmapFromJson(j: String): ColMap = {
    val r = consMapper.readTree(j)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val it = r.get("m").fields()
    while (it.hasNext) { val e = it.next(); m += e.getKey -> e.getValue.asText }
    val d = r.get("d")
    ColMap(m.toMap, (0 until d.size).map(i => d.get(i).asText))
  }

  /** Recorded partition metadata: ONE hive-partition key's column
    * name and TYPE. A layout may carry SEVERAL keys (`country=…/
    * source=…` — Delta records partitionColumns as a LIST for the
    * same reason), so the `partmeta` row stores an ORDERED list of
    * these, outermost directory first. Partition columns are never in
    * the recorded payload schema (their values live in the file
    * PATHS), so without this row a reader cannot know whether
    * `country=India` restores as a string or `bucket=3` as a long —
    * the commit that stages a partitioned layout records the list,
    * and every later commit carries it forward (colmap's rule).
    * Legacy logs without the row restore each key as LONG after
    * validating every live token is integral — the pre-partmeta
    * contract, enforced loudly instead of casting a string token to
    * null.
    */
  private[graft] case class PartMeta(col: String, tpe: DataType)

  private[sources] def partMetaToJson(keys: Seq[PartMeta]): String = {
    val o = consMapper.createObjectNode()
    val arr = o.putArray("keys")
    keys.foreach { k =>
      val e = arr.addObject()
      e.put("col", k.col)
      e.put("type", k.tpe.catalogString)
      ()
    }
    consMapper.writeValueAsString(o)
  }

  /** `{}` is the CLEAR tombstone — resolution treats "no row in this
    * commit" as carry-forward, so an epoch change (flat overwrite,
    * restore across the partitioned epoch) must write an explicit
    * empty row to stop the carry.
    */
  private[sources] val PartMetaTombstone = "{}"

  /** Parses both the list form (`{"keys":[{"col":…,"type":…},…]}`)
    * and the legacy single-key form (`{"col":…,"type":…}`, written by
    * pre-multi-key logs) — the tombstone and unknown shapes read as
    * the empty list.
    */
  private[sources] def partMetaFromJson(j: String): Seq[PartMeta] = {
    val r = consMapper.readTree(j)
    def parse(n: com.fasterxml.jackson.databind.JsonNode) =
      PartMeta(n.get("col").asText,
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseDataType(n.get("type").asText))
    if (r.has("keys")) {
      val a = r.get("keys")
      (0 until a.size).map(i => parse(a.get(i)))
    } else if (r.has("col")) Seq(parse(r))
    else Seq.empty
  }

  /** Reader-feature names for the per-commit `protocol` row (Delta's
    * protocol/feature discipline): a commit that first activates a
    * feature records the grown set, and every reader path that cannot
    * serve a feature refuses THROUGH the recorded vocabulary instead
    * of each gate inventing its own condition. The set is monotone
    * (features are never silently dropped — Delta's rule; purging the
    * last DV leaves the feature enabled but inactive, and the gates
    * below refuse only on ACTIVE state).
    */
  private[graft] object Features {
    val DeletionVectors = "deletionVectors"
    val ColumnMapping = "columnMapping"
    val StringPartitionValues = "stringPartitionValues"
    /** Features a raw-parquet reader (DSv2 snapshot, manifest export)
      * cannot apply when ACTIVE: DVs would resurrect deleted rows,
      * column mapping would surface physical names. String partition
      * values are NOT raw-blocking — partition values ride the paths
      * for every reader alike.
      */
    val RawBlocking: Set[String] = Set(DeletionVectors, ColumnMapping)
    /** WRITER-feature namespace (round 18, Delta's writerFeatures /
      * minWriterVersion): `w:`-prefixed protocol entries bind WRITERS
      * only — readers skip them (they never enter
      * activeReaderFeatures, so no read path blocks on them). A
      * binary refuses to COMMIT to a table whose log names a writer
      * feature outside its vocabulary (mirror of rawReadRefusal, on
      * the write side): committing blind could break the invariant
      * the feature protects.
      */
    val WriterPrefix = "w:"
    /** Commits may carry informational `info` lines (ADVICE r17,
      * Delta's commitInfo): the log grammar grew a line type, so the
      * first info write activates this writer feature — an older
      * writer that doesn't know the line refuses to commit instead of
      * interleaving commits it can't round-trip.
      */
    val CommitInfo: String = WriterPrefix + "commitInfo"
    /** The writer features THIS binary implements. */
    val SupportedWriter: Set[String] = Set(CommitInfo)
  }

  /** Key-alignment soundness gate (ADVICE r17): mergeInto casts a
    * differently-typed source key to the TABLE type once, up front,
    * so stats prune / chain tokens / every probe compare in one type.
    * Sound only when the cast cannot change a value. Lossless shapes:
    * string sources (the header-mapped Excel path — try_cast sends
    * malformed text to NULL, which never equi-matches), integral
    * widening, float->double, small integrals into an fp type whose
    * mantissa covers them, digit-covering decimal widenings, and
    * date->timestamp. Everything else (double->bigint, long->int,
    * long->double …) refuses at the verb.
    */
  private[sources] def losslessKeyCast(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    def rank(d: DataType): Int = d match {
      case ByteType => 1; case ShortType => 2
      case IntegerType => 3; case LongType => 4; case _ => -1
    }
    def digits(d: DataType): Int = d match {
      case ByteType => 3; case ShortType => 5
      case IntegerType => 10; case LongType => 19; case _ => -1
    }
    (from, to) match {
      case (StringType, _) => true
      case (f, t) if rank(f) > 0 && rank(t) > 0 => rank(f) <= rank(t)
      case (FloatType, DoubleType) => true
      // int fits double's 53-bit mantissa; short fits float's 24-bit
      case (f, DoubleType) if rank(f) > 0 && rank(f) <= 3 => true
      case (f, FloatType) if rank(f) > 0 && rank(f) <= 2 => true
      case (f, d: DecimalType) if rank(f) > 0 =>
        d.scale >= 0 && d.precision - d.scale >= digits(f)
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
      case (DateType, TimestampType) => true
      case _ => false
    }
  }

  private[sources] def protocolToJson(fs: Set[String]): String = {
    val arr = consMapper.createArrayNode()
    fs.toSeq.sorted.foreach { f => arr.add(f); () }
    consMapper.writeValueAsString(arr)
  }

  private[sources] def protocolFromJson(j: String): Set[String] = {
    val r = consMapper.readTree(j)
    (0 until r.size).map(i => r.get(i).asText).toSet
  }

  /** Hive-path escaping for partition VALUES — delegating to Spark's
    * own `ExternalCatalogUtils` (the exact code
    * `DataFrameWriter.partitionBy` escapes value dirs with), so the
    * log-level token matching below and the staged directory names
    * can never disagree on a single character. Integral values are
    * fixed points (digits and '-' are never escaped).
    */
  private[graft] def escapePartValue(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(v)

  /** One hive `col=value` path SEGMENT (a full directory component —
    * anchored, so a file name containing '=' never matches).
    */
  private[sources] val PartSegment =
    "^([A-Za-z_][A-Za-z0-9_]*)=(.+)$".r

  /** Catalyst-encoded partition values of one value-dir chain: the
    * `k=v` segments of `dir` matched to the recorded keys, unescaped,
    * null-sentinel-mapped, and cast to each key's recorded type —
    * what the log-backed file index serves as PartitionPath values
    * (Delta's TahoeFileIndex contract). Strings become UTF8String,
    * dates epoch-day ints (Catalyst's internal encodings).
    */
  private[graft] def partDirValues(pcs: Seq[PartMeta],
                                   dir: String): Seq[Any] = {
    val kvs = dir.split("/").collect {
      case PartSegment(k, v) => (k, v)
    }.toMap
    pcs.map { pm =>
      val tok = kvs.getOrElse(pm.col, throw new IllegalStateException(
        s"data dir '$dir' lacks a '${pm.col}=' component — partitioned " +
          "layout violated"))
      if (tok == HiveDefaultPartition) null
      else {
        val raw = unescapePartValue(tok)
        pm.tpe match {
          case StringType =>
            org.apache.spark.unsafe.types.UTF8String.fromString(raw)
          case DateType =>
            java.sql.Date.valueOf(raw).toLocalDate.toEpochDay.toInt
          case LongType => raw.toLong
          case IntegerType => raw.toInt
          case ShortType => raw.toShort
          case ByteType => raw.toByte
          case other => throw new IllegalStateException(
            s"unsupported partition type ${other.catalogString}")
        }
      }
    }
  }

  /** The parquet checkpoint sidecar's schema: the file/filedv rows of
    * a text checkpoint, columnar. Optional dv columns are set only on
    * dv-carrying files.
    */
  private[sources] val CkptParquetSchema: String =
    """message graft_ckpt {
      |  required binary path (UTF8);
      |  required int64 bytes;
      |  optional binary stats (UTF8);
      |  optional binary dv_path (UTF8);
      |  optional int64 dv_bytes;
      |  optional int64 dv_deleted;
      |}""".stripMargin

  private[graft] def unescapePartValue(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(v)

  /** The sentinel `partitionBy` writes for a null (or empty-string)
    * partition value; restore maps it back to null — Hive/Delta's
    * convention, including its known wart that an EMPTY STRING value
    * round-trips as null.
    */
  private[graft] val HiveDefaultPartition: String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .DEFAULT_PARTITION_NAME

  private[sources] def bloomIdxToJson(cs: Seq[(String, Long)]): String = {
    val arr = consMapper.createArrayNode()
    cs.foreach { case (c, b) =>
      val o = arr.addObject(); o.put("c", c); o.put("b", b); ()
    }
    consMapper.writeValueAsString(arr)
  }

  private[sources] def bloomIdxFromJson(j: String): Seq[(String, Long)] = {
    val r = consMapper.readTree(j)
    (0 until r.size).map(i =>
      (r.get(i).get("c").asText, r.get(i).get("b").asLong))
  }

  /** Create a table at `root` with `df` as version 1. */
  def create(s: SparkSession, root: String, df: DataFrame): GraftTable = {
    val t = new GraftTable(s, root)
    require(t.latestVersion == 0, s"table already exists at $root")
    t.append(df)
    t
  }

  /** CREATE TABLE without data: version 1 is a schema-only commit —
    * the table reads as an empty frame under the declared schema
    * until the first insert (the SQL `CREATE TABLE` / CTAS-create
    * step through [[GraftCatalog]]).
    */
  def createEmpty(s: SparkSession, root: String,
                  schema: StructType): GraftTable = {
    val t = new GraftTable(s, root)
    require(t.latestVersion == 0, s"table already exists at $root")
    require(schema.nonEmpty, "CREATE TABLE needs at least one column")
    t.commit("create", Seq.empty, Seq.empty,
      schema = Some(org.apache.spark.sql.graft.shim.nullable(schema)))
    t
  }

  /** CREATE TABLE … PARTITIONED BY without data: version 1 records
    * the PAYLOAD schema and the ordered partition-key list (partmeta
    * row), so the first partitioned insert — the DSv2 batch write's
    * dynamic-partition staging, appendPartitioned, a streaming epoch
    * — validates against a declared layout instead of defining one
    * implicitly. `payload` excludes the keys (their values live in
    * paths, the layer's invariant).
    */
  def createEmptyPartitioned(s: SparkSession, root: String,
                             payload: StructType,
                             partBy: Seq[(String, DataType)])
      : GraftTable = {
    val t = new GraftTable(s, root)
    require(t.latestVersion == 0, s"table already exists at $root")
    require(payload.nonEmpty,
      "CREATE TABLE needs at least one non-partition column")
    require(partBy.nonEmpty, "use createEmpty for flat tables")
    partBy.foreach { case (c, dt) =>
      require(!payload.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"partition column '$c' must not repeat in the payload schema")
      dt match {
        case LongType | IntegerType | ShortType | ByteType | StringType |
             DateType => ()
        case other => throw new IllegalArgumentException(
          s"unsupported partition column type ${other.catalogString} " +
            s"for '$c' — integral, string and date keys round-trip " +
            "through paths")
      }
    }
    t.commit("create", Seq.empty, Seq.empty,
      schema = Some(org.apache.spark.sql.graft.shim.nullable(payload)),
      partMeta = Some(partBy.map { case (c, dt) => PartMeta(c, dt) }))
    t
  }

  /** Open an existing table (or a root about to receive version 1). */
  def forPath(s: SparkSession, root: String): GraftTable =
    new GraftTable(s, root)

  /** IN-PLACE CONVERT (Delta's `CONVERT TO DELTA`): adopt an
    * existing plain-parquet directory — flat or hive-partitioned —
    * into the commit log WITHOUT rewriting a byte: version 1 is a
    * `convert` commit whose adds reference the directory's parquet
    * files at their existing relative paths, with footer min/max
    * stats read during the walk (so log-level skipping works on
    * day one). After conversion the full surface applies — DSv2/SQL
    * reads, time travel, DML (copy-on-write rewrites land under
    * `data/` and logically retire converted originals), constraints,
    * clone, manifest export, partition-subset readers (hive
    * `col=value` paths are recognized exactly like
    * appendPartitioned's layout).
    *
    * The recorded schema is the FILES' OWN schema (no partition
    * column — its values stay path-borne, matching the partitioned
    * staging convention). Converted originals that DML later retires
    * are vacuum-EXEMPT (the orphan sweep walks only the table-managed
    * `data/`/`cdf/`/`dv/` dirs) — the same conservatism that keeps a
    * clone from reclaiming its source's files; reclaiming them is an
    * explicit rm after the log horizon passes, exactly Delta's
    * guidance for converted tables.
    *
    * At 100 TB this is the migration verb: a petabyte-scale parquet
    * lake becomes transactional in one O(files) driver-side metadata
    * pass — no data job at all.
    */
  def convert(s: SparkSession, root: String,
              partitionBy: Seq[(String, DataType)] = Seq.empty)
      : GraftTable = {
    val t = new GraftTable(s, root)
    require(t.latestVersion == 0, s"table already exists at $root")
    val fs = t.fs
    val rootPath = t.rootPath
    require(fs.exists(rootPath) && fs.getFileStatus(rootPath).isDirectory,
      s"convert needs an existing directory, got $root")
    def walk(p: Path, rel: String): Seq[(String, Long)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        val r = if (rel.isEmpty) name else s"$rel/$name"
        if (st.isDirectory) {
          // never adopt table-managed or hidden dirs (a half-created
          // log, Spark _temporary dirs, .crc sidecars)
          if (name == LogDir || name == ManifestDir ||
            name.startsWith("_") || name.startsWith(".")) Seq.empty
          else walk(st.getPath, r)
        } else if (name.endsWith(".parquet") && !name.startsWith(".") &&
          !name.startsWith("_")) Seq((r, st.getLen))
        else Seq.empty
      }
    val adds = walk(rootPath, "").sortBy(_._1)
    require(adds.nonEmpty, s"no parquet files to convert under $root")
    // Partition-layout validation over EVERY path SEGMENT (a
    // consuming regex misses every second component — ADVICE r12):
    // each file's directory components are split and every `k=v`
    // segment is examined. Multi-level layouts (`date=…/hour=…`)
    // adopt as an ORDERED key list; every file must carry the SAME
    // key chain in the SAME nesting order — a mixed flat/partitioned
    // or inconsistently-nested tree refuses loudly instead of being
    // half-adopted.
    val kvByFile: Seq[(String, Seq[(String, String)])] = adds.map { a =>
      a._1 -> a._1.split("/").dropRight(1).toSeq.collect {
        case PartSegment(k, v) => (k, v)
      }
    }
    val keys = kvByFile.map(_._2.map(_._1)).find(_.nonEmpty)
      .getOrElse(Seq.empty)
    kvByFile.find(_._2.map(_._1) != keys).foreach { case (p, kvs) =>
      throw new IllegalArgumentException(
        s"cannot convert: '$p' carries partition chain " +
          s"[${kvs.map(_._1).mkString("/")}] where the layout's first " +
          s"file carries [${keys.mkString("/")}] — a mixed " +
          "flat/partitioned or inconsistently-nested tree cannot be " +
          "adopted")
    }
    require(keys.distinct == keys,
      s"cannot convert: a key repeats in the partition chain " +
        s"[${keys.mkString("/")}] — nested same-key dirs make restore " +
        "ambiguous")
    // A declared PARTITIONED BY must match the discovered layout BY
    // NAME AND ORDER, validated BEFORE the commit is written (ADVICE
    // r13: the post-commit check left a typo'd statement with a
    // converted directory a corrected re-run then refused).
    if (partitionBy.nonEmpty)
      require(partitionBy.map(_._1) == keys,
        s"CONVERT declared PARTITIONED BY " +
          s"(${partitionBy.map(_._1).mkString(", ")}) but the layout " +
          s"carries ${if (keys.isEmpty) "no partition key"
            else s"(${keys.mkString(", ")})"}")
    val declared = partitionBy.toMap
    val pm: Seq[PartMeta] = keys.map { key =>
      // the on-disk tokens are the ESCAPED form (Spark/Hive path
      // escaping); type inference looks at the logical values with
      // the null-sentinel dir excluded
      val tokens = kvByFile
        .flatMap(_._2.collect { case (k, v) if k == key => v }).distinct
      val vals = tokens.filterNot(_ == HiveDefaultPartition)
        .map(unescapePartValue)
      val tpe = declared.getOrElse(key,
        if (vals.forall(v => scala.util.Try(v.toLong).isSuccess)) LongType
        else StringType)
      tpe match {
        case LongType | IntegerType | ShortType | ByteType =>
          vals.find(v => scala.util.Try(v.toLong).isFailure).foreach(v =>
            throw new IllegalArgumentException(
              s"cannot convert: partition value '$key=$v' is not " +
                s"integral but ${tpe.catalogString} was requested"))
        case StringType => ()
        case DateType =>
          vals.find(v =>
            scala.util.Try(java.sql.Date.valueOf(v)).isFailure)
            .foreach(v => throw new IllegalArgumentException(
              s"cannot convert: partition value '$key=$v' does not " +
                "parse as a date"))
        case other => throw new IllegalArgumentException(
          s"unsupported partition type ${other.catalogString} — " +
            "integral, string and date keys round-trip through paths")
      }
      PartMeta(key, tpe)
    }
    // schema from the FILES (explicit paths, so Spark does not infer
    // a hive partition column into it — partition values stay in the
    // paths, the partitioned-staging convention)
    val schema = s.read.parquet(
      adds.map(a => s"$root/${a._1}"): _*).schema
    pm.foreach(p => require(!schema.fieldNames.exists(
      _.equalsIgnoreCase(p.col)),
      s"cannot convert: files already contain a column named " +
        s"'${p.col}' that the partition dirs would shadow"))
    t.commit("convert", adds, Seq.empty, stats = t.statsOf(adds, Snapshot.empty),
      schema = Some(org.apache.spark.sql.graft.shim.nullable(schema)),
      partMeta = if (pm.isEmpty) None else Some(pm))
    t
  }
}
