package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, IsNull, Not}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.model.OplogEntry
import graft.streaming.ShardTopology

/** Native DataSource V2 connector for the (file-modeled) sharded oplog —
  * the engine-level rendition of the reference's source architecture:
  *
  *  - topology discovery (O2, `reference:.../ShardSetFinder.java:44-78`):
  *    the `topology` option carries `"s0/h1:p1,h2:p2;s1/..."` descriptors;
  *    each replica member maps to a directory of json-lines files under
  *    `path/<shard>/<host>_<port>/`.
  *  - one tailable cursor per member (O1, `MongoOplogTailMapper.java:75-78`):
  *    `planInputPartitions` emits ONE InputPartition PER MEMBER — the
  *    exact parallelism the reference hand-builds with its Rx thread
  *    pool, here scheduled by Spark across executors.
  *  - server-side predicate pushdown (O3+O4,
  *    `MongoOplogTailMapper.java:90-98`): `SupportsPushDownFilters`
  *    accepts the O3 filter shapes (`Not(EqualTo(op|ns, _))`, `EqualTo`,
  *    `IsNull(fromMigrate)`) AND the O4 resume range
  *    (`GreaterThan(ts, lastSeen)` / `GreaterThanOrEqual`), evaluating
  *    them inside the partition reader — rows are dropped at the
  *    "cursor", exactly like the Bson `$gt` filter the reference sends
  *    to mongod, and never cross the source boundary. BATCH reads only:
  *    Spark 4.1.2's `MicroBatchExecution` builds the streaming scan with
  *    `newScanBuilder(options).build()` and never calls `pushFilters`,
  *    so a micro-batch reader gets no filters and every row reaches the
  *    query's own `Filter` above the scan. Filtering unconditionally in
  *    the reader was not taken up: the reader alone costs ~3.6 µs/line
  *    against ~2.4 µs/line with O3 applied at the cursor, about 5 ms of
  *    a 4,000-line task.
  *  - resumable offsets (O4/O8, `MongoDBOplogSource.java:130-139`): the
  *    streaming Offset is the last consumed FILE NAME per member
  *    (compared with a numeric-aware ordering, so `b9 < b10` even
  *    without zero padding), so a restarted query replans precisely the
  *    unread suffix per member — the `ts > lastSeen` resume predicate,
  *    made exact — and a committed offset can never shift meaning the
  *    way an index-based offset could. Writer contract (same as a real
  *    oplog, which appends monotonically): a new file's name must order
  *    after the member's last consumed name; a file that materializes
  *    BELOW the committed watermark is outside the contract and is not
  *    replayed (by design — replaying it would mean re-reads).
  *  - admission control (the reference's 128-slot blocking queue,
  *    `MongoDBOplogSource.java:58`): the `maxFilesPerTrigger` option
  *    bounds how many files each micro-batch may admit (total across
  *    members), via `SupportsAdmissionControl`.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.sources.OplogSourceProvider")
  *     .option("topology", "s0/h1:27018,h2:27019,h3:27020")
  *     .option("maxFilesPerTrigger", "16")       // optional backpressure
  *     .load("/data/oplog")
  * }}}
  */
class OplogSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = OplogEntry.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OplogTable(new CaseInsensitiveStringMap(properties))
}

object OplogConnector {
  /** member id / directory layout shared by writer-side fixtures. */
  def memberDir(root: String, shard: String, host: String, port: Int): String =
    s"$root/$shard/${host}_$port"

  private[sources] def members(options: CaseInsensitiveStringMap): Seq[(String, String)] = {
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("oplog connector requires a path"))
    val topology = Option(options.get("topology")).getOrElse(
      throw new IllegalArgumentException("oplog connector requires a topology option"))
    topology.split(";").toSeq.map(ShardTopology.parseDescriptor).flatMap { ss =>
      ss.members.map(m => (s"${ss.shard}/${m.host}:${m.port}",
        memberDir(root, ss.shard, m.host, m.port)))
    }
  }

  /** numeric-aware (natural) name ordering: digit runs compare as
    * integers, so `b9.json < b10.json`. An oplog writer does not have to
    * zero-pad for resume offsets to stay monotone. Falls back to plain
    * string order so distinct names never compare equal. */
  private[sources] def naturalCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.charAt(i)
      val cb = b.charAt(j)
      if (ca.isDigit && cb.isDigit) {
        var i2 = i; while (i2 < a.length && a.charAt(i2).isDigit) i2 += 1
        var j2 = j; while (j2 < b.length && b.charAt(j2).isDigit) j2 += 1
        val na = a.substring(i, i2).dropWhile(_ == '0')
        val nb = b.substring(j, j2).dropWhile(_ == '0')
        if (na.length != nb.length) return na.length - nb.length
        val c = na.compareTo(nb)
        if (c != 0) return c
        i = i2; j = j2
      } else {
        if (ca != cb) return ca - cb
        i += 1; j += 1
      }
    }
    val rem = (a.length - i) - (b.length - j)
    if (rem != 0) rem else a.compareTo(b)   // zero-padding tiebreak: total order
  }

  private[sources] def fileName(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)

  /** member files in natural name order (the planning order). */
  private[sources] def listFiles(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    if (!d.isDirectory) Seq.empty
    else d.listFiles().filter(f => f.isFile && f.getName.endsWith(".json"))
      .map(_.getAbsolutePath)
      .sortWith((x, y) => naturalCompare(fileName(x), fileName(y)) < 0)
      .toSeq
  }

  /** a pushed `ts` comparison value as epoch micros — the forms Spark
    * hands to a DSv2 source for a TimestampType column. */
  private[sources] def tsMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      Some(OplogEntry.timestampMicros(t))
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case _ => None
  }
}

class OplogTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"oplog(${options.get("path")})"
  override def schema(): StructType = OplogEntry.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new CaseInsensitiveStringMap(
      (options.asScala ++ caseInsensitiveOptions.asScala).asJava)
    new OplogScanBuilder(merged)
  }
}

class OplogScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters {
  private var pushed: Array[Filter] = Array.empty

  /** O3 + O4 filter shapes the "server side" (reader) evaluates:
    * op/ns equality shapes, fromMigrate existence, and the resume-range
    * `ts > lastSeen` the reference sends as a Bson `$gt`
    * (`MongoOplogTailMapper.java:96-98`). */
  private def supported(f: Filter): Boolean = f match {
    case EqualTo(a, _: String) => a == "op" || a == "ns"
    case Not(EqualTo(a, _: String)) => a == "op" || a == "ns"
    case IsNull("fromMigrate") | IsNotNull("fromMigrate") => true
    case GreaterThan("ts", v) => OplogConnector.tsMicros(v).isDefined
    case GreaterThanOrEqual("ts", v) => OplogConnector.tsMicros(v).isDefined
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition(supported)
    pushed = accepted
    rejected   // Spark re-applies these above the scan
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new OplogScan(options, pushed)
}

class OplogScan(options: CaseInsensitiveStringMap, pushed: Array[Filter]) extends Scan {
  override def readSchema(): StructType = OplogEntry.schema
  override def description(): String =
    s"graft-oplog pushed=[${pushed.mkString(", ")}]"
  override def toBatch: Batch = new OplogBatch(options, pushed)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new OplogMicroBatchStream(options, pushed)
}

/** bounded read: every member, full file list. */
class OplogBatch(options: CaseInsensitiveStringMap, pushed: Array[Filter]) extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    OplogConnector.members(options).map { case (id, dir) =>
      OplogInputPartition(id, OplogConnector.listFiles(dir).toArray)
    }.toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new OplogReaderFactory(pushed)
}

/** per-member log position: the NAME of the last consumed file (empty =
  * nothing consumed). Name-based (not index-based) so a file that lands
  * "between" already-consumed names can never shift the meaning of a
  * committed offset — resume plans exactly the files strictly after the
  * recorded name in natural order. */
case class OplogOffset(positions: Map[String, String]) extends Offset {
  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
  override def json(): String =
    positions.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
}

object OplogOffset {
  /** strict parse: every field must be a string file name. A checkpoint
    * in any other shape (e.g. the retired integer-index format) fails
    * LOUDLY — silently returning an empty offset would restart every
    * member from scratch and re-emit everything downstream. */
  def fromJson(json: String): OplogOffset = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json)
    require(node != null && node.isObject,
      s"oplog offset is not a JSON object: $json")
    val b = Map.newBuilder[String, String]
    node.fields().forEachRemaining { e =>
      require(e.getValue.isTextual,
        s"oplog offset field '${e.getKey}' is not a file name " +
        s"(incompatible checkpoint format?): $json")
      b += e.getKey -> e.getValue.asText()
    }
    OplogOffset(b.result())
  }
}

class OplogMicroBatchStream(options: CaseInsensitiveStringMap, pushed: Array[Filter])
    extends MicroBatchStream with SupportsAdmissionControl {
  import OplogConnector.{fileName, listFiles, naturalCompare}

  private val memberDirs = OplogConnector.members(options)
  private val maxFiles: Option[Int] =
    Option(options.get("maxFilesPerTrigger")).map(_.toInt)

  override def getDefaultReadLimit: ReadLimit =
    maxFiles.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset =
    OplogOffset(memberDirs.map { case (id, _) => id -> "" }.toMap)

  /** unread files for a member, in natural order, strictly after `last`. */
  private def unread(dir: String, last: String): Seq[String] =
    listFiles(dir).filter(f => naturalCompare(fileName(f), last) > 0)

  /** admission-controlled latest offset: split the file budget across
    * members ROUND-ROBIN (one file per member per pass) — a member with
    * a continuous backlog can never starve the others, which matters
    * because the downstream quorum gate needs copies from EVERY member.
    * The micro-batch analog of the reference's bounded transfer queue. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[OplogOffset].positions
    var budget = limit match {
      case m: ReadMaxFiles => m.maxFiles()
      case _ => Int.MaxValue
    }
    val queues = memberDirs.map { case (id, dir) =>
      (id, s.getOrElse(id, ""), unread(dir, s.getOrElse(id, "")).iterator)
    }
    val taken = scala.collection.mutable.Map.empty[String, String]
    var advanced = true
    while (budget > 0 && advanced) {
      advanced = false
      queues.foreach { case (id, _, it) =>
        if (budget > 0 && it.hasNext) {
          taken(id) = fileName(it.next())
          budget -= 1
          advanced = true
        }
      }
    }
    OplogOffset(queues.map { case (id, last, _) =>
      id -> taken.getOrElse(id, last)
    }.toMap)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def deserializeOffset(json: String): Offset = OplogOffset.fromJson(json)

  /** one InputPartition per replica member with its unread file slice —
    * the reference's per-replica tailable cursor, replayable exactly:
    * the files strictly after `start`'s name up to and including `end`'s. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[OplogOffset].positions
    val e = end.asInstanceOf[OplogOffset].positions
    memberDirs.flatMap { case (id, dir) =>
      val from = s.getOrElse(id, "")
      val to = e.getOrElse(id, "")
      val files = listFiles(dir).filter { f =>
        val n = fileName(f)
        naturalCompare(n, from) > 0 && naturalCompare(n, to) <= 0
      }
      if (files.nonEmpty) Some(OplogInputPartition(id, files.toArray)) else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new OplogReaderFactory(pushed)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class OplogInputPartition(memberId: String, files: Array[String]) extends InputPartition

class OplogReaderFactory(pushed: Array[Filter]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new OplogPartitionReader(partition.asInstanceOf[OplogInputPartition], pushed)
}

/** reads a member's json-lines files in order, applying the pushed O3/O4
  * predicates before a row ever leaves the "cursor". Each file's handle
  * is closed as soon as its lines are exhausted (and in [[close]]), so a
  * long-running stream over many small files never accumulates open
  * descriptors. */
class OplogPartitionReader(partition: OplogInputPartition, pushed: Array[Filter])
    extends PartitionReader[InternalRow] {

  private val fileIter = partition.files.iterator
  private var src: scala.io.Source = _
  private var lines: Iterator[String] = Iterator.empty
  private var current: InternalRow = _

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** ensure `lines` has a next line, closing each exhausted file. */
  private def advance(): Boolean = {
    while (!lines.hasNext) {
      if (src != null) { src.close(); src = null }
      if (!fileIter.hasNext) return false
      src = scala.io.Source.fromFile(fileIter.next(), "UTF-8")
      lines = src.getLines().filter(_.nonEmpty)
    }
    true
  }

  /** the pushed filters that don't need `ts` (the O3 shapes) — applied
    * BEFORE the timestamp parse, so a row they drop costs no parse and
    * a malformed `ts` on such a row cannot fail the reader. */
  private val preTsFilters = pushed.filterNot {
    case GreaterThan("ts", _) | GreaterThanOrEqual("ts", _) => true
    case _ => false
  }
  private val tsFilters = pushed.diff(preTsFilters)

  private def passesPre(op: String, ns: String, fromMigrate: java.lang.Boolean): Boolean =
    preTsFilters.forall {
      case EqualTo("op", v: String) => op == v
      case EqualTo("ns", v: String) => ns == v
      case Not(EqualTo("op", v: String)) => op != v
      case Not(EqualTo("ns", v: String)) => ns != v
      case IsNull("fromMigrate") => fromMigrate == null
      case IsNotNull("fromMigrate") => fromMigrate != null
      case _ => true
    }

  private def passesTs(micros: Long): Boolean =
    tsFilters.forall {
      case GreaterThan("ts", v) => OplogConnector.tsMicros(v).forall(micros > _)
      case GreaterThanOrEqual("ts", v) => OplogConnector.tsMicros(v).forall(micros >= _)
      case _ => true
    }

  override def next(): Boolean = {
    while (advance()) {
      val node = mapper.readTree(lines.next())
      val op = node.get("op").asText()
      val ns = node.get("ns").asText()
      val fm: java.lang.Boolean =
        if (node.hasNonNull("fromMigrate")) Boolean.box(node.get("fromMigrate").asBoolean())
        else null
      if (passesPre(op, ns, fm)) {
        val inst = java.time.Instant.parse(node.get("ts").asText())
        val micros = inst.getEpochSecond * 1000000L + inst.getNano / 1000L
        if (passesTs(micros)) {
          val o2 = if (node.hasNonNull("o2")) UTF8String.fromString(node.get("o2").asText()) else null
          current = InternalRow(
            micros,
            node.get("tsInc").asInt(),
            node.get("h").asLong(),
            UTF8String.fromString(op),
            UTF8String.fromString(ns),
            if (fm == null) null else fm.booleanValue(),
            UTF8String.fromString(node.get("o").asText()),
            o2,
            UTF8String.fromString(partition.memberId))
          return true
        }
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (src != null) { src.close(); src = null }
}
