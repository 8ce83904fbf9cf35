package graftbench

import scala.collection.mutable

/** Seeded op sequences. A client's k-th op depends only on the seed, the
  * client number and the ops before it, never on timing, so one seed
  * always yields the same sequence (see [[OpGen.digest]]). */
object OpGen {
  sealed trait Op { def kind: String }
  final case class Write(entry: String, recs: Vector[Rec]) extends Op { def kind = "write" }
  /** A cursor over `q`; `expect` is the timestamps it must return. */
  final case class Read(entry: String, q: Corpus.Query, expect: Vector[Long]) extends Op { def kind = "query" }
  final case class Update(entry: String, ts: Vector[Long], labels: Map[String, String]) extends Op { def kind = "update" }
  final case class Remove(entry: String, ts: Vector[Long]) extends Op { def kind = "remove" }
  /** A query-remove; `expect` is the timestamps it must remove. */
  final case class RemoveWhere(entry: String, q: Corpus.Query, expect: Vector[Long]) extends Op { def kind = "remove" }
  case object ListBuckets extends Op { def kind = "list" }
  case object Info extends Op { def kind = "list" }

  /** A stable text form of an op: kind, entry, timestamps, labels, query
    * and payload checksums. */
  def describe(op: Op): String = op match {
    case Write(e, recs) => s"write $e " + recs.map(r =>
      s"${r.ts}:${r.labels.toSeq.sorted.mkString(";")}:${java.util.Arrays.hashCode(r.payload)}").mkString(",")
    case Read(e, q, x) => s"query $e ${q.json} ${x.mkString(",")}"
    case Update(e, ts, l) => s"update $e ${ts.mkString(",")} ${l.toSeq.sorted.mkString(";")}"
    case Remove(e, ts) => s"remove $e ${ts.mkString(",")}"
    case RemoveWhere(e, q, x) => s"remove-where $e ${q.json} ${x.mkString(",")}"
    case ListBuckets => "list"
    case Info => "info"
  }

  /** SHA-256 over the described ops, hex. */
  def digest(ops: Iterator[Op]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ops.foreach(op => md.update((describe(op) + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** The per-entry state a `mixed` client expects the store to hold. */
  type Model = mutable.Map[String, mutable.TreeMap[Long, Map[String, String]]]

  /** The `mixed` preload: `entries` entries of `records` 1 KiB records. */
  def mixedCorpus(seed: Long, entries: Int, records: Int): Map[String, Vector[Rec]] =
    (0 until entries).map(i => Corpus.entryName("m", i) -> Corpus.entry(seed, i, records)).toMap

  /** The `mixed` op kinds, one cycle: 40% batch write, 30% small query,
    * 10% label update, 10% remove, 10% `/list` or `/info`. Each client
    * walks the cycle from its own offset and its entries, query classes,
    * remove forms and listing routes in turn, so every run has the same
    * structure whatever the seed; the seed draws labels, the records an
    * update or remove picks, and query parameters. Measured: with a
    * random draw per op, whole runs differed by 30% from seed to seed. */
  val MixedCycle: Vector[String] =
    Vector("write", "query", "write", "update", "write", "query", "remove", "write", "query", "list")

  /** `mixed`: batch writes of 16 x 1 KiB records, queries of the five
    * query classes over 24 records, label updates and removes of 8
    * records (every third remove is an `$each_n` query-remove), and
    * listings. Client `c` owns the entries whose index is `c` modulo the
    * client count, so its model of them is exact while other clients
    * run. */
  final class Mixed(seed: Long, client: Int, clients: Int, corpus: Map[String, Vector[Rec]]) {
    val model: Model = mutable.Map.empty
    private val owned: Vector[(String, Int)] = corpus.keys.toVector.sorted.zipWithIndex
      .filter(_._2 % clients == client)
    for ((e, _) <- owned)
      model(e) = mutable.TreeMap.from(corpus(e).iterator.map(r => r.ts -> r.labels))
    private val rng = new scala.util.Random(seed * 104729L + client)
    private var k = 0

    private def recsOf(e: String): Vector[Rec] =
      model(e).iterator.map { case (ts, l) => Rec(ts, l, Array.emptyByteArray) }.toVector

    private def pick(e: String, n: Int): Vector[Long] = {
      val all = model(e).keys.toVector
      rng.shuffle(all).take(n).sorted
    }

    private def window(e: String, span: Int): (Long, Long) = {
      val ks = model(e).keys.toVector
      val i = rng.nextInt(math.max(1, ks.size - span))
      (ks(i), if (i + span < ks.size) ks(i + span) else ks.last + 1)
    }

    private var queries, removes, listings = 0

    def next(): Op = {
      val kind = MixedCycle((client * 3 + k) % MixedCycle.size)
      val (e, idx) = owned(k % owned.size)
      k += 1
      if (kind == "write" || (model(e).size < 24 && kind != "list")) {
        val last = (model(e).lastKey - Corpus.T0 - idx) / Corpus.StepUs
        val recs = Vector.tabulate(16) { i =>
          val ts = Corpus.ts(idx, (last + 1 + i).toInt)
          Rec(ts, Corpus.labels(rng), Corpus.payload(ts, 1024))
        }
        recs.foreach(r => model(e)(r.ts) = r.labels)
        Write(e, recs)
      } else if (kind == "query") {
        val (s, t) = window(e, 24)
        val cls = Corpus.Classes((queries + client) % Corpus.Classes.size)
        val q = Corpus.Query(cls, Seq(e), s, t, Corpus.when(cls, queries / Corpus.Classes.size, rng))
        queries += 1
        Read(e, q, Corpus.expected(q, Map(e -> recsOf(e))).map(_.ts).toVector)
      } else if (kind == "update") {
        val ts = pick(e, 8)
        val l = Map("u" -> s"c${client}k$k")
        ts.foreach(t => model(e)(t) = model(e)(t) ++ l)
        Update(e, ts, l)
      } else if (kind == "remove") {
        removes += 1
        if (removes % 3 == 0) {
          val (s, t) = window(e, 24)
          val q = Corpus.Query("trailing", Seq(e), s, t, Some("""{"$each_n":3}"""))
          val gone = Corpus.expected(q, Map(e -> recsOf(e))).map(_.ts).toVector
          gone.foreach(model(e).remove)
          RemoveWhere(e, q, gone)
        } else {
          val ts = pick(e, 8)
          ts.foreach(model(e).remove)
          Remove(e, ts)
        }
      } else { listings += 1; if (listings % 2 == 1) ListBuckets else Info }
    }
  }
}
