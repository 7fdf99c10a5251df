package graft.sources

import org.apache.spark.sql.types.{DataType, StringType, StructType}
import GraftTable.{AddFile, ColMap, DvRef, FileMeta, PartMeta}

/** One published commit file, `v<N>.txt`: a header line
  * (`graft-commit \t version \t action \t epoch-millis`; pre-round-9
  * logs have no timestamp and read as -1), then one line per action.
  * A metadata line (`schema`, `constraints`, …) present in a commit
  * REPLACES that field of the table state; an absent one carries the
  * predecessor's value forward ([[Snapshot.apply]]).
  */
private[graft] final case class Commit(version: Long, action: String,
                                       adds: Seq[AddFile],
                                       removes: Seq[String],
                                       cdf: Seq[(String, Long)],
                                       schemaJson: Option[String],
                                       constraintsJson: Option[String],
                                       tsMillis: Long,
                                       dvs: Seq[(String, DvRef)] = Seq.empty,
                                       bloomIdxJson: Option[String] = None,
                                       colmapJson: Option[String] = None,
                                       partMetaJson: Option[String] = None,
                                       protocolJson: Option[String] = None,
                                       info: Option[String] = None) {

  /** The commit file body — [[Commit.parse]]'s inverse. */
  def text: String = {
    val b = new StringBuilder(s"graft-commit\t$version\t$action\t$tsMillis\n")
    info.foreach(i => b.append(s"info\t$i\n"))
    schemaJson.foreach(j => b.append(s"schema\t$j\n"))
    constraintsJson.foreach(j => b.append(s"constraints\t$j\n"))
    bloomIdxJson.foreach(j => b.append(s"bloomidx\t$j\n"))
    colmapJson.foreach(j => b.append(s"colmap\t$j\n"))
    partMetaJson.foreach(j => b.append(s"partmeta\t$j\n"))
    protocolJson.foreach(j => b.append(s"protocol\t$j\n"))
    adds.foreach(a =>
      b.append(s"add\t${a.path}\t${a.bytes}${a.stats.map("\t" + _).getOrElse("")}\n"))
    removes.foreach(p => b.append(s"remove\t$p\n"))
    cdf.foreach { case (p, n) => b.append(s"cdf\t$p\t$n\n") }
    dvs.foreach { case (p, d) =>
      b.append(s"dv\t$p\t${d.path}\t${d.bytes}\t${d.nDeleted}\n")
    }
    b.toString
  }
}

private[graft] object Commit {
  def parse(v: Long, lines: Seq[String]): Commit = {
    val hdr = lines.head.split("\t", 4)
    val ts = if (hdr.length >= 4) hdr(3).toLong else -1L // -1: pre-ts log
    val adds = Seq.newBuilder[AddFile]
    val rems = Seq.newBuilder[String]
    val cdfs = Seq.newBuilder[(String, Long)]
    val dvs = Seq.newBuilder[(String, DvRef)]
    val meta = scala.collection.mutable.Map.empty[String, String]
    lines.tail.foreach { l =>
      val f = l.split("\t", 5)
      f(0) match {
        case "add" =>
          adds += AddFile(f(1), f(2).toLong,
            if (f.length >= 4 && f(3).nonEmpty) Some(f(3)) else None)
        case "remove" => rems += f(1)
        case "cdf"    => cdfs += ((f(1), f(2).toLong))
        case "dv"     => // dv \t dataRel \t dvRel \t bytes \t nDeleted
          dvs += ((f(1), DvRef(f(2), f(3).toLong, f(4).toLong)))
        case k @ ("schema" | "constraints" | "bloomidx" | "colmap" |
                  "partmeta" | "protocol" | "info") =>
          meta(k) = l.split("\t", 2)(1)
        case other => sys.error(s"corrupt commit v$v: unknown action $other")
      }
    }
    Commit(hdr(1).toLong, hdr(2), adds.result(), rems.result(), cdfs.result(),
      meta.get("schema"), meta.get("constraints"), ts, dvs.result(),
      meta.get("bloomidx"), meta.get("colmap"), meta.get("partmeta"),
      meta.get("protocol"), meta.get("info"))
  }
}

/** A GraftTable as of one version, resolved from its log once: the
  * live files with their add-time meta, every metadata field, and the
  * committed idempotence tags. Immutable — a verb pins one and reads
  * every question from it, so a version's state is derived once
  * instead of once per field (Delta's snapshot, Armbrust et al.,
  * VLDB 2020).
  *
  * Built by folding commits onto a starting point — the empty table or
  * a checkpoint ([[Snapshot.fromCheckpoint]]) — with [[apply]]. That
  * fold is the log's ONE resolution rule: the newest line of a field
  * in (checkpoint, v] wins, else the checkpoint's, else the empty
  * default.
  */
private[graft] final case class Snapshot(version: Long,
                                         files: Map[String, FileMeta],
                                         schema: Option[StructType],
                                         constraints: Seq[(String, String)],
                                         bloomIndex: Seq[(String, Long)],
                                         colmap: ColMap,
                                         partMeta: Seq[PartMeta],
                                         protocol: Set[String],
                                         tags: Set[String]) {

  /** This snapshot with commit `c` (its successor) applied: removes,
    * then adds (a re-added path starts dv-free), then dvs — a dv for a
    * file this same commit removed is dropped with it. A tagged action
    * (`append@<tag>`, `replace@<tag>`, `merge@<tag>`) joins the tags.
    */
  def apply(c: Commit): Snapshot = {
    val applied = (files -- c.removes) ++
      c.adds.map(a => a.path -> FileMeta(a.bytes, a.stats))
    Snapshot(c.version,
      c.dvs.foldLeft(applied) { case (m, (p, d)) =>
        if (m.contains(p)) m.updated(p, m(p).copy(dv = Some(d))) else m
      },
      c.schemaJson.map(Snapshot.parseSchema).orElse(schema),
      c.constraintsJson.map(GraftTable.constraintsFromJson).getOrElse(constraints),
      c.bloomIdxJson.map(GraftTable.bloomIdxFromJson).getOrElse(bloomIndex),
      c.colmapJson.map(GraftTable.colmapFromJson).getOrElse(colmap),
      // the `{}` tombstone parses to the empty list: an epoch change
      c.partMetaJson.map(GraftTable.partMetaFromJson).getOrElse(partMeta),
      c.protocolJson.map(GraftTable.protocolFromJson).getOrElse(protocol),
      if (c.action.contains("@")) tags + c.action else tags)
  }

  /** The partition columns GOVERNING this version: the recorded
    * partmeta keys when present — so an emptied-but-still-partitioned
    * table (a deleteWhere that removed every file) keeps refusing
    * flat appends until the epoch is explicitly ended (overwrite /
    * DROP FEATURE write the tombstone) — else the live layout's
    * parse (legacy pre-partmeta logs).
    */
  lazy val partCols: Seq[String] = {
    val rec = partMeta.map(_.col)
    if (rec.nonEmpty) rec else Snapshot.partColsOf(files.keys)
  }

  /** True when any live file carries a deletion vector. */
  def hasDv: Boolean = files.values.exists(_.dv.isDefined)

  /** The reader features ACTIVE here — derived from actual state, not
    * the (monotone) protocol row: a purge that cleared the last DV
    * leaves `deletionVectors` in the protocol but inactive here, and
    * the raw-parquet paths serve the version again.
    */
  def activeReaderFeatures: Set[String] = {
    val b = Set.newBuilder[String]
    if (hasDv) b += GraftTable.Features.DeletionVectors
    if (!colmap.isIdentity) b += GraftTable.Features.ColumnMapping
    // active only while the LIVE LAYOUT actually carries a string
    // key: a recorded row whose value dirs are gone (epoch change) is
    // history, not an active requirement
    val layoutCols = Snapshot.partColsOf(files.keys)
    partMeta.filter(_.tpe == StringType).foreach { pm =>
      if (layoutCols.contains(pm.col))
        b += GraftTable.Features.StringPartitionValues
    }
    b.result()
  }

  /** The checkpoint body: header, the metadata rows that differ from
    * their defaults, the full live set (with stats), dv attachments
    * and the committed-tag ledger — [[Snapshot.fromCheckpoint]]'s
    * inverse.
    */
  def checkpointText: String = {
    val b = new StringBuilder(s"graft-ckpt\t$version\n")
    schema.foreach(sc => b.append(s"schema\t${sc.json}\n"))
    if (constraints.nonEmpty)
      b.append(s"constraints\t${GraftTable.constraintsToJson(constraints)}\n")
    if (bloomIndex.nonEmpty)
      b.append(s"bloomidx\t${GraftTable.bloomIdxToJson(bloomIndex)}\n")
    if (colmap != ColMap.empty) // an identity map with entries is state too
      b.append(s"colmap\t${GraftTable.colmapToJson(colmap)}\n")
    if (partMeta.nonEmpty)
      b.append(s"partmeta\t${GraftTable.partMetaToJson(partMeta)}\n")
    if (protocol.nonEmpty)
      b.append(s"protocol\t${GraftTable.protocolToJson(protocol)}\n")
    val live = files.toSeq.sortBy(_._1)
    live.foreach { case (p, m) =>
      b.append(s"file\t$p\t${m.bytes}${m.stats.map("\t" + _).getOrElse("")}\n")
    }
    live.foreach { case (p, m) =>
      m.dv.foreach(d =>
        b.append(s"filedv\t$p\t${d.path}\t${d.bytes}\t${d.nDeleted}\n"))
    }
    tags.toSeq.sorted.foreach(t => b.append(s"tag\t$t\n"))
    b.toString
  }
}

private[graft] object Snapshot {
  val empty: Snapshot = Snapshot(0L, Map.empty, None, Seq.empty, Seq.empty,
    ColMap.empty, Seq.empty, Set.empty, Set.empty)

  private def parseSchema(j: String): StructType =
    DataType.fromJson(j).asInstanceOf[StructType]

  /** The snapshot checkpoint `cv` records. `sidecar` is the live set
    * read from the parquet sidecar when there is one; otherwise the
    * body's file/filedv lines give it. A checkpoint without the
    * `graft-ckpt` header predates the tag ledger: its tags are the
    * tagged ones among `actions`, the actions of the commits up to
    * `cv` (read only then).
    */
  def fromCheckpoint(cv: Long, lines: Seq[String],
                     sidecar: Option[Map[String, FileMeta]],
                     actions: => Seq[String]): Snapshot = {
    def row(k: String) = lines.collectFirst {
      case l if l.startsWith(k + "\t") => l.split("\t", 2)(1)
    }
    val files = sidecar.getOrElse {
      val plain = lines.flatMap { l =>
        val f = l.split("\t", 4)
        if (f(0) == "file")
          Some((f(1), FileMeta(f(2).toLong,
            if (f.length >= 4 && f(3).nonEmpty) Some(f(3)) else None)))
        else None
      }.toMap
      // filedv lines re-attach deletion vectors to their data files
      lines.foldLeft(plain) { (m, l) =>
        val f = l.split("\t", 5)
        if (f(0) == "filedv" && m.contains(f(1)))
          m.updated(f(1), m(f(1)).copy(dv =
            Some(DvRef(f(2), f(3).toLong, f(4).toLong))))
        else m
      }
    }
    Snapshot(cv, files,
      row("schema").map(parseSchema),
      row("constraints").map(GraftTable.constraintsFromJson).getOrElse(Seq.empty),
      row("bloomidx").map(GraftTable.bloomIdxFromJson).getOrElse(Seq.empty),
      row("colmap").map(GraftTable.colmapFromJson).getOrElse(ColMap.empty),
      row("partmeta").map(GraftTable.partMetaFromJson).getOrElse(Seq.empty),
      row("protocol").map(GraftTable.protocolFromJson).getOrElse(Set.empty),
      if (lines.headOption.exists(_.startsWith("graft-ckpt\t")))
        lines.collect { case l if l.startsWith("tag\t") => l.split("\t", 2)(1) }
          .toSet
      else actions.filter(_.contains("@")).toSet)
  }

  /** The ORDERED hive-partition columns of a live set (outermost
    * value dir first; empty = flat) — parsed from the logged relpaths
    * (stagePartitioned's construction). Every `k=v` DIRECTORY
    * component counts, so a two-key layout (`country=…/source=…`)
    * reports both keys; a converted table's value dirs may sit at the
    * table root with no parent component, which segment-splitting
    * handles uniformly.
    */
  def partColsOf(files: Iterable[String]): Seq[String] =
    files.iterator
      .map(f => f.split("/").dropRight(1).toSeq.collect {
        case GraftTable.PartSegment(k, _) => k
      })
      .find(_.nonEmpty).getOrElse(Seq.empty)
}
