package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

/** Apache Iceberg table-metadata walk — the other lakehouse format's
  * source of truth, read from BLOBS (a table directory shipped in a
  * shard or pulled from an object store), not through any catalog.
  *
  * Implements the documented spec (iceberg.apache.org/spec): table
  * metadata JSON (`vN.metadata.json` / `NNNNN-<uuid>.metadata.json`,
  * format-version 1 and 2), the current snapshot's manifest LIST
  * (an Avro container — decoded by the nested [[Avro]] reader over
  * avro's GenericDatumReader: manifest_path/length, content,
  * added_snapshot_id), and
  * each data manifest (Avro again: status + the nested `data_file`
  * record with file_path/file_format/record_count/
  * file_size_in_bytes), reducing to the live file set (DELETED
  * entries dropped; delete manifests counted but not expanded).
  *
  * Named profile gaps, distinct from damage: format-version ≥ 3,
  * and row-level delete application (delete files are surfaced as
  * counts, not applied). Null on damage.
  */
object Iceberg {

  private final class Err(msg: String)
    extends RuntimeException(msg, null, false, false)
  private def fail(msg: String): Nothing = throw new Err(msg)

  /** One live data file of the current snapshot. */
  final case class DataFile(path: String, format: String,
      recordCount: Long, fileSize: Long)

  /** The reconstructed current-snapshot state. */
  final case class Snapshot(formatVersion: Int, snapshotId: Long,
      nManifests: Int, nDeleteManifests: Int, nDeletedEntries: Int,
      files: Vector[DataFile])

  private val VNum = "(?:.*/)?v(\\d+)\\.metadata\\.json".r
  private val SeqNum = "(?:.*/)?(\\d+)-[^/]*\\.metadata\\.json".r

  /** Reconstruct the current snapshot from table-directory members
    * (name → bytes); null on damage or an out-of-subset layout.
    */
  def replay(members: Seq[(String, Array[Byte])]): Snapshot = try {
    replayOrThrow(members)
  } catch {
    case _: RuntimeException => null
    case _: StackOverflowError => null
  }

  private def basename(p: String): String =
    p.substring(p.lastIndexOf('/') + 1)

  private def replayOrThrow(members: Seq[(String, Array[Byte])]): Snapshot = {
    val byBase = members.map { case (n, b) => basename(n) -> b }.toMap
    // latest metadata json by numeric prefix (both naming schemes)
    val metas = members.flatMap { case (n, b) =>
      n match {
        case VNum(v) => Some((java.lang.Long.parseLong(v), b))
        case SeqNum(v) => Some((java.lang.Long.parseLong(v), b))
        case _ => None
      }
    }
    if (metas.isEmpty) fail("no metadata")
    val meta = MiniJson.parse(
      new String(metas.maxBy(_._1)._2, UTF_8)) match {
      case o: MiniJson.JObj => o
      case _ => fail("metadata")
    }
    val fv = meta.get("format-version") match {
      case Some(d: Double) => d.toInt
      case _ => fail("format version")
    }
    if (fv > 2) fail("format profile")
    val currentId = meta.get("current-snapshot-id") match {
      case Some(d: Double) => d.toLong
      case _ => fail("current snapshot")
    }
    val snapshots = meta.get("snapshots") match {
      case Some(a: MiniJson.JArr) => a
      case _ => fail("snapshots")
    }
    val current = snapshots.collectFirst {
      case o: MiniJson.JObj
          if o.get("snapshot-id").contains(currentId.toDouble) => o
    }.getOrElse(fail("current missing"))
    val listPath = current.get("manifest-list") match {
      case Some(s: String) => s
      case _ => fail("manifest list")
    }
    val listBytes = byBase.getOrElse(basename(listPath),
      fail("manifest list missing"))
    val list = Avro.read(listBytes)
    if (list == null) fail("manifest list avro")
    val li = list.fieldNames.zipWithIndex.toMap
    val pathI = li.getOrElse("manifest_path", fail("list schema"))
    val contentI = li.getOrElse("content", -1) // absent in v1
    var nManifests = 0
    var nDeleteManifests = 0
    var nDeleted = 0
    val files = Vector.newBuilder[DataFile]
    list.rows.foreach { lr =>
      val mPath = lr(pathI) match {
        case s: String => s
        case _ => fail("manifest path")
      }
      val content = if (contentI < 0) 0L else lr(contentI) match {
        case v: Long => v
        case _ => 0L
      }
      if (content == 1L) nDeleteManifests += 1
      else {
        nManifests += 1
        val mBytes = byBase.getOrElse(basename(mPath), fail("manifest missing"))
        val man = Avro.read(mBytes)
        if (man == null) fail("manifest avro")
        val mi = man.fieldNames.zipWithIndex.toMap
        val statusI = mi.getOrElse("status", fail("manifest schema"))
        val dfI = mi.getOrElse("data_file", fail("manifest schema"))
        man.rows.foreach { r =>
          val status = r(statusI) match {
            case v: Long => v
            case _ => fail("status")
          }
          if (status == 2L) nDeleted += 1
          else r(dfI) match {
            case df: Avro.ARec =>
              val p = df.get("file_path") match {
                case s: String => s
                case _ => fail("file path")
              }
              val fmt = df.get("file_format") match {
                case s: String => s
                case _ => ""
              }
              val rc = df.get("record_count") match {
                case v: Long => v
                case _ => -1L
              }
              val fs = df.get("file_size_in_bytes") match {
                case v: Long => v
                case _ => -1L
              }
              files += DataFile(p, fmt, rc, fs)
            case _ => fail("data file")
          }
        }
      }
    }
    Snapshot(fv, currentId, nManifests, nDeleteManifests, nDeleted,
      files.result())
  }
}
