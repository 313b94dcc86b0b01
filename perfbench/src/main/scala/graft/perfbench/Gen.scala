package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** The seeded input generator shared by every workload. The engine
  * only ever sees the files written here; the same seed yields
  * byte-identical files. */
object Gen {

  def writeLines(f: File, lines: Iterator[String]): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8))
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  // ------------------------------------------------------------------
  // Oplog
  // ------------------------------------------------------------------

  /** One generated oplog entry. `key` addresses a document of `ns`;
    * filtered entries (no-ops, migration writes, offset-table writes)
    * carry key -1 and never reach the applied state. */
  final case class Op(idx: Int, ns: String, key: Int, op: String, tsUs: Long, inc: Int,
      filtered: Boolean, line: String)

  val Namespaces: IndexedSeq[String] = IndexedSeq("shop.orders", "shop.users")
  /** documents per namespace; `_id`s are drawn Zipf(KeySkew) over them. */
  val KeysPerNs = 4000
  val KeySkew = 1.1
  /** share of updates (vs deletes) on a live document, in percent. */
  val UpdatePct = 75
  /** one client write in MigrateEvery is a chunk-migration insert. */
  val MigrateEvery = 100
  /** the replica members, one reference tailer each. */
  val Hosts: IndexedSeq[String] = IndexedSeq("r1:27018", "r2:27019", "r3:27020")
  /** entries per second of oplog clock: ts = base + idx / OpsPerTsSecond. */
  private val OpsPerTsSecond = 1000
  /** a primary writes a periodic no-op every 10 s of clock
    * (MongoDB's `periodicNoopIntervalSecs` default). */
  private val NoopEvery = 10 * OpsPerTsSecond
  private val BaseSec = 1700000000L

  private final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** `n` entries of one replica set's oplog in clock order. Each client
    * write is followed by one `time_d.repl_time` upsert per member: the
    * reference's tailers each upsert their offset after every record
    * they read (`MongoDBOplogSource.java:111,130-139`), and `time_d` is
    * taken to live on this replica set. `stream` separates independent
    * streams of one seed. */
  def oplog(seed: Long, stream: Int, n: Int): Array[Op] = {
    val r = new SplittableRandom(seed * 1000003L + stream)
    val zipf = new Zipf(KeysPerNs, KeySkew)
    val live = new java.util.BitSet(Namespaces.length * KeysPerNs)
    val out = new Array[Op](n)
    var idx = 0
    def sec(i: Int) = BaseSec + i / OpsPerTsSecond
    def inc(i: Int) = i % OpsPerTsSecond + 1
    def emit(ns: String, key: Int, op: String, o: String, o2: Option[String] = None,
        fromMigrate: Boolean = false): Unit = if (idx < n) {
      val line = s"""{"ts":"${java.time.Instant.ofEpochSecond(sec(idx))}","tsInc":${inc(idx)},""" +
        s""""h":${r.nextLong()},"op":"$op","ns":${q(ns)},""" +
        (if (fromMigrate) "\"fromMigrate\":true," else "") +
        s""""o":${q(o)}""" + o2.fold("")(x => s""","o2":${q(x)}""") + "}"
      val filtered = key < 0
      out(idx) = Op(idx, ns, key, op, sec(idx) * 1000000L, inc(idx), filtered, line)
      idx += 1
    }
    while (idx < n) {
      if ((idx + 1) % NoopEvery == 0) emit("", -1, "n", """{"msg":"periodic noop"}""")
      else if (r.nextInt(MigrateEvery) == 0)
        emit(Namespaces(0), -1, "i", s"""{"_id":${zipf.draw(r)},"v":${r.nextInt(1000)}}""", fromMigrate = true)
      else {
        val at = idx
        val nsI = r.nextInt(Namespaces.length)
        val key = zipf.draw(r)
        val ns = Namespaces(nsI)
        val slot = nsI * KeysPerNs + key
        if (!live.get(slot)) {
          live.set(slot)
          emit(ns, key, "i", s"""{"_id":$key,"v":${r.nextInt(1000)},"w":"w${r.nextInt(50)}"}""")
        } else if (r.nextInt(100) < UpdatePct)
          emit(ns, key, "u", s"""{"$$set":{"v":${r.nextInt(1000)}}}""", Some(s"""{"_id":$key}"""))
        else {
          live.clear(slot)
          emit(ns, key, "d", s"""{"_id":$key}""")
        }
        Hosts.foreach(h => emit("time_d.repl_time", -1, "u",
          s"""{"_id":"$h","ts":${sec(at)},"inc":${inc(at)}}""", Some(s"""{"_id":"$h"}""")))
      }
    }
    out
  }

  type Live = Map[(String, String), (Long, Int, String)]

  /** The reference applied state: a plain last-writer-wins fold over the
    * unfiltered ops of `ops` (already in clock order); deleted documents
    * drop out. Keys are (ns, _id as text), values (tsUs, tsInc, op). */
  def lww(ops: Iterator[Op]): Live = {
    val m = scala.collection.mutable.HashMap.empty[(String, String), (Long, Int, String)]
    ops.filterNot(_.filtered).foreach(o => m((o.ns, o.key.toString)) = (o.tsUs, o.inc, o.op))
    m.iterator.filter(_._2._3 != "d").toMap
  }

  /** A replica member's file: ops [from, until) of the shared op order. */
  final case class MemberFile(member: Int, seq: Int, from: Int, until: Int) {
    def name: String = f"f$seq%06d.json"
  }

  /** Cuts `n` ops into files of `fileOps` per member; member m's cuts
    * are shifted by m·fileOps/members, so the replica copies of ops near
    * a cut land in different files (and different micro-batches). */
  def memberFiles(n: Int, fileOps: Int, members: Int): Seq[MemberFile] =
    (0 until members).flatMap { m =>
      val shift = m * fileOps / members
      val bounds = (0 +: (shift until n by fileOps).filter(_ > 0) :+ n).distinct
      bounds.sliding(2).zipWithIndex.map { case (Seq(a, b), i) => MemberFile(m, i, a, b) }
    }

  def writeMemberFile(dir: File, ops: Array[Op], f: MemberFile): File = {
    val out = new File(dir, f.name)
    writeLines(out, Iterator.range(f.from, f.until).map(ops(_).line))
    out
  }

  // ------------------------------------------------------------------
  // Documents corpus
  // ------------------------------------------------------------------

  /** The documents fixture's vocabulary. */
  val Vocab: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val Langs = IndexedSeq("en", "en", "en", "de", "fr", "es", "zh")
  /** percent of documents that belong to planted near-duplicate classes. */
  val PlantedPct = 20
  /** one token in EditEvery is replaced in a planted copy. */
  val EditEvery = 20

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** `n` documents with ids 0..n-1. PlantedPct% of them are members of
    * planted classes of 2-4 near-copies (a base text with one token in
    * EditEvery replaced per copy), scattered over the id range. */
  def corpus(seed: Long, n: Int): Array[Doc] = {
    val r = new SplittableRandom(seed * 1000003L + 7)
    def text(len: Int) = Array.fill(len)(Vocab(r.nextInt(Vocab.length)))
    def edit(base: Array[String]) = base.map(t =>
      if (r.nextInt(EditEvery) == 0) Vocab(r.nextInt(Vocab.length)) else t)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val planted = n * PlantedPct / 100
    while (texts.length < planted) {
      val base = text(30 + r.nextInt(70))
      val size = math.min(2 + r.nextInt(3), planted - texts.length)
      texts += base.mkString(" ")
      (1 until size).foreach(_ => texts += edit(base).mkString(" "))
    }
    while (texts.length < n) texts += text(10 + r.nextInt(90)).mkString(" ")
    // Fisher-Yates over ids so class members are spread through the range
    val order = Array.range(0, n)
    (n - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    Array.tabulate(n)(id => Doc(id.toLong, texts(order(id)), Langs(r.nextInt(Langs.length)),
      s"src${id % 5}"))
  }

  def docLine(d: Doc): String = s"""{"doc_id":${d.id},"text":${q(d.text)}}"""
}
