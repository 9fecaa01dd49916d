package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

/** Delta Lake transaction-log replay — the lakehouse table format's
  * source of truth, walked from BLOBS (a `_delta_log/` directory
  * shipped inside a shard or pulled from an object store), not
  * through any table client.
  *
  * Implements the documented protocol (delta.io PROTOCOL.md): JSON
  * commit files `<version 20 digits>.json` holding one action per
  * line (`add`, `remove`, `metaData`, `protocol`, `commitInfo`,
  * `txn`), parquet checkpoints `<version>.checkpoint.parquet`
  * discovered via `_last_checkpoint`, and snapshot reconstruction —
  * start from the newest usable checkpoint's `add` rows (decoded by
  * the [[Parquet]] adapter over parquet-hadoop: nested structs, the
  * partitionValues MAP, the stats JSON string), then apply strictly
  * newer commits in version order with last-writer-wins `add` /
  * `remove` semantics. Per-file `numRecords` comes from the stats
  * JSON ([[MiniJson]]).
  *
  * Named profile gaps, distinct from damage: protocol versions
  * beyond (3,7) fail reconstruction honestly (reader-version gate),
  * multi-part checkpoints, and v2 checkpoint manifests (sidecars).
  * Null on damage.
  */
object DeltaLog {

  private final class Err(msg: String)
    extends RuntimeException(msg, null, false, false)
  private def fail(msg: String): Nothing = throw new Err(msg)

  /** One active data file in the reconstructed snapshot. */
  final case class AddFile(path: String, size: Long, numRecords: Long,
      partitionValues: Vector[(String, String)])

  /** The reconstructed table state at the latest version. */
  final case class Snapshot(version: Long, nCommits: Int,
      usedCheckpoint: Boolean, active: Vector[AddFile], nRemoves: Int,
      metaDataId: String, partitionColumns: Vector[String])

  private val VersionRe = "(?:.*/)?(\\d{20})\\.json".r
  private val CheckpointRe = "(?:.*/)?(\\d{20})\\.checkpoint\\.parquet".r
  private val LastCheckpointRe = "(?:.*/)?_last_checkpoint".r

  /** Reconstruct the latest snapshot from `_delta_log` members
    * (name → bytes); null on damage or an out-of-subset layout.
    */
  def replay(members: Seq[(String, Array[Byte])]): Snapshot = try {
    replayOrThrow(members)
  } catch {
    case _: RuntimeException => null
    case _: StackOverflowError => null
  }

  private def replayOrThrow(members: Seq[(String, Array[Byte])]): Snapshot = {
    val commits = scala.collection.mutable.TreeMap.empty[Long, Array[Byte]]
    val checkpoints = scala.collection.mutable.TreeMap.empty[Long, Array[Byte]]
    var lastCheckpoint = -1L
    members.foreach { case (name, bytes) =>
      name match {
        case VersionRe(v) => commits(java.lang.Long.parseLong(v)) = bytes
        case CheckpointRe(v) => checkpoints(java.lang.Long.parseLong(v)) = bytes
        case LastCheckpointRe() =>
          MiniJson.parse(new String(bytes, UTF_8)) match {
            case o: MiniJson.JObj => o.get("version") match {
              case Some(d: Double) => lastCheckpoint = d.toLong
              case _ => fail("last checkpoint")
            }
            case _ => fail("last checkpoint")
          }
        case _ => () // data files, CRCs, sidecars we don't consume
      }
    }
    if (commits.isEmpty && checkpoints.isEmpty) fail("empty log")
    if (commits.size > (1 << 16)) fail("commit bomb")
    // newest checkpoint at or below the hint (the hint names the one
    // the writer finished; older ones are also usable)
    val cpVersion: Long =
      if (lastCheckpoint >= 0 && checkpoints.contains(lastCheckpoint))
        lastCheckpoint
      else checkpoints.lastOption.map(_._1).getOrElse(-1L)
    val active = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    var metaId = ""
    var partCols = Vector.empty[String]
    var nRemoves = 0
    var version = -1L
    var usedCheckpoint = false
    if (cpVersion >= 0) {
      val t = Parquet.read(checkpoints(cpVersion))
      if (t == null) fail("checkpoint parquet")
      val idx = t.fieldNames.zipWithIndex.toMap
      val addI = idx.getOrElse("add", -1)
      val metaI = idx.getOrElse("metaData", -1)
      val protoI = idx.getOrElse("protocol", -1)
      t.rows.foreach { r =>
        if (addI >= 0) r(addI) match {
          case g: Parquet.PqGroup => addFromFields(g.fields).foreach(a =>
            active(a.path) = a)
          case _ => ()
        }
        if (metaI >= 0) r(metaI) match {
          case g: Parquet.PqGroup =>
            g.get("id") match { case s: String => metaId = s; case _ => () }
            g.get("partitionColumns") match {
              case v: Vector[_] =>
                partCols = v.collect { case s: String => s }.toVector
              case _ => ()
            }
          case _ => ()
        }
        if (protoI >= 0) r(protoI) match {
          case g: Parquet.PqGroup => g.get("minReaderVersion") match {
            case v: Long => if (v > 3) fail("protocol profile")
            case _ => ()
          }
          case _ => ()
        }
      }
      version = cpVersion
      usedCheckpoint = true
    }
    var applied = 0
    commits.foreach { case (v, bytes) =>
      if (v > version) {
        applyCommit(new String(bytes, UTF_8), active,
          id => metaId = id, pc => partCols = pc,
          () => nRemoves += 1)
        version = v
        applied += 1
      }
    }
    if (version < 0) fail("no versions")
    Snapshot(version, applied, usedCheckpoint, active.values.toVector,
      nRemoves, metaId, partCols)
  }

  private def applyCommit(text: String,
      active: scala.collection.mutable.LinkedHashMap[String, AddFile],
      onMetaId: String => Unit, onPartCols: Vector[String] => Unit,
      onRemove: () => Unit): Unit = {
    text.split('\n').foreach { line =>
      val trimmed = line.trim
      if (trimmed.nonEmpty) {
        val obj = MiniJson.parse(trimmed) match {
          case o: MiniJson.JObj => o
          case _ => fail("action")
        }
        obj.get("add") match {
          case Some(a: MiniJson.JObj) =>
            val add = addFromJson(a)
            active(add.path) = add
          case _ => ()
        }
        obj.get("remove") match {
          case Some(r: MiniJson.JObj) =>
            r.get("path") match {
              case Some(p: String) =>
                if (active.remove(p).isDefined) onRemove()
              case _ => fail("remove path")
            }
          case _ => ()
        }
        obj.get("metaData") match {
          case Some(m: MiniJson.JObj) =>
            m.get("id") match {
              case Some(s: String) => onMetaId(s)
              case _ => ()
            }
            m.get("partitionColumns") match {
              case Some(arr: MiniJson.JArr) =>
                onPartCols(arr.collect { case s: String => s }.toVector)
              case _ => ()
            }
          case _ => ()
        }
        obj.get("protocol") match {
          case Some(p: MiniJson.JObj) => p.get("minReaderVersion") match {
            case Some(d: Double) => if (d > 3) fail("protocol profile")
            case _ => ()
          }
          case _ => ()
        }
      }
    }
  }

  private def addFromJson(a: MiniJson.JObj): AddFile = {
    val path = a.get("path") match {
      case Some(s: String) => s
      case _ => fail("add path")
    }
    val size = a.get("size") match {
      case Some(d: Double) => d.toLong
      case _ => 0L
    }
    val records = a.get("stats") match {
      case Some(s: String) => numRecordsOf(s)
      case _ => -1L
    }
    val parts = a.get("partitionValues") match {
      case Some(o: MiniJson.JObj) =>
        o.toVector.map { case (k, v) =>
          k -> (v match { case s: String => s; case _ => "" })
        }
      case _ => Vector.empty
    }
    AddFile(path, size, records, parts)
  }

  /** An `add` from checkpoint-parquet struct fields. */
  private def addFromFields(fields: Vector[(String, Any)]): Option[AddFile] = {
    val m = fields.toMap
    m.get("path") match {
      case Some(path: String) =>
        val size = m.get("size") match {
          case Some(v: Long) => v
          case _ => 0L
        }
        val records = m.get("stats") match {
          case Some(s: String) => numRecordsOf(s)
          case _ => -1L
        }
        val parts = m.get("partitionValues") match {
          case Some(kvs: Vector[_]) =>
            kvs.collect { case g: Parquet.PqGroup =>
              (g.get("key") match { case s: String => s; case _ => "" }) ->
                (g.get("value") match { case s: String => s; case _ => "" })
            }.toVector
          case _ => Vector.empty
        }
        Some(AddFile(path, size, records, parts))
      case _ => None
    }
  }

  private def numRecordsOf(statsJson: String): Long = try {
    MiniJson.parse(statsJson) match {
      case o: MiniJson.JObj => o.get("numRecords") match {
        case Some(d: Double) => d.toLong
        case _ => -1L
      }
      case _ => -1L
    }
  } catch { case _: IllegalArgumentException => -1L }

  // ---- write side (fixture synthesis; the protocol is the spec) ----------

  /** One synthetic commit line set. */
  def commitJson(adds: Seq[AddFile], removes: Seq[String],
      metaData: Option[(String, Seq[String])],
      protocol: Boolean): Array[Byte] = {
    val sb = new StringBuilder
    if (protocol)
      sb.append("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
        .append('\n')
    metaData.foreach { case (id, cols) =>
      sb.append("""{"metaData":{"id":"""").append(id)
        .append("""","format":{"provider":"parquet"},"schemaString":"{}",""")
        .append(""""partitionColumns":[""")
        .append(cols.map(c => "\"" + c + "\"").mkString(","))
        .append("""],"configuration":{}}}""").append('\n')
    }
    removes.foreach { p =>
      sb.append("""{"remove":{"path":"""").append(p)
        .append("""","deletionTimestamp":123456789,"dataChange":true}}""")
        .append('\n')
    }
    adds.foreach { a =>
      sb.append("""{"add":{"path":"""").append(a.path)
        .append("""","partitionValues":{""")
        .append(a.partitionValues.map { case (k, v) =>
          "\"" + k + "\":\"" + v + "\"" }.mkString(","))
        .append("""},"size":""").append(a.size)
        .append(""","modificationTime":1700000000000,"dataChange":true,""")
        .append(""""stats":"{\"numRecords\":""").append(a.numRecords)
        .append("""}"}}""").append('\n')
    }
    sb.append("""{"commitInfo":{"operation":"WRITE"}}""").append('\n')
    sb.toString.getBytes(UTF_8)
  }

  def versionFileName(v: Long): String =
    f"_delta_log/$v%020d.json"
}
