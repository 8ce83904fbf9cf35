package graftbench

import graft.cond.{CondError, Ctx, Interp, InterruptSignal, Parser}

/** A seeded synthetic record corpus and the independent answers queries
  * over it must return.
  *
  * Every entry holds records 10 s apart; the entry index is added to each
  * timestamp so a timestamp names exactly one record across the bucket
  * (a page's `x-reduct-time-<ts>` headers then identify records even for
  * multi-entry queries). Labels mix the four value kinds the condition
  * language types: int `n`, float `f`, bool `ok` and string `kind`. */
object Corpus {
  val T0: Long = 1704067200000000L // 2024-01-01T00:00:00Z in µs
  val StepUs: Long = 10000000L
  val Kinds: IndexedSeq[String] = IndexedSeq("a", "b", "c", "d")

  def ts(entryIdx: Int, i: Int): Long = T0 + i * StepUs + entryIdx

  def labels(rng: scala.util.Random): Map[String, String] = Map(
    "n" -> rng.nextInt(100).toString,
    "f" -> f"${rng.nextDouble()}%.3f",
    "ok" -> rng.nextBoolean().toString,
    "kind" -> Kinds(rng.nextInt(Kinds.size)))

  /** Deterministic payload bytes for a record: content derives from the
    * timestamp, so a reader can verify a payload without the corpus. */
  def payload(ts: Long, size: Int): Array[Byte] = {
    val b = new Array[Byte](size)
    var x = ts * 0x9E3779B97F4A7C15L
    var i = 0
    while (i < size) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; b(i) = x.toByte; i += 1 }
    b
  }

  /** Records of one entry: `n` records of 1 KiB. */
  def entry(seed: Long, entryIdx: Int, n: Int): Vector[Rec] = {
    val rng = new scala.util.Random(seed * 1000003L + entryIdx)
    Vector.tabulate(n) { i =>
      val t = ts(entryIdx, i)
      Rec(t, labels(rng), payload(t, 1024))
    }
  }

  def entryName(prefix: String, i: Int): String = f"$prefix$i%03d"

  /** A query of one of five classes, answered by [[expected]]. */
  final case class Query(cls: String, entries: Seq[String], start: Long, stop: Long,
      when: Option[String]) {
    def json: String = {
      val fields = Seq(s"\"start\":$start", s"\"stop\":$stop",
        entries.map("\"" + _ + "\"").mkString("\"entries\":[", ",", "]")) ++
        when.map(w => s"\"when\":$w")
      fields.mkString("{", ",", "}")
    }
  }

  val Classes: Seq[String] = Seq("plain", "compare", "trailing", "stateful", "context")

  /** The condition of a query of class `cls`; `k` alternates the two
    * forms of the trailing and stateful classes. */
  def when(cls: String, k: Int, rng: scala.util.Random): Option[String] = cls match {
    case "plain" => None
    case "compare" => Some(
      s"""{"&n":{"$$lt":${20 + rng.nextInt(60)}},"&kind":{"$$ne":"${Kinds(rng.nextInt(Kinds.size))}"}}""")
    case "trailing" => Some(
      if (k % 2 == 0) s"""{"&ok":{"$$eq":true},"$$each_n":${2 + rng.nextInt(3)}}"""
      else s"""{"&f":{"$$gt":${rng.nextInt(50)}.0e-2},"$$limit":${10 + rng.nextInt(30)}}""")
    case "stateful" => Some(
      if (k % 2 == 0) s"""{"$$each_t":"${30 + rng.nextInt(60)}s"}"""
      else s"""{"$$gate":["${20 + rng.nextInt(40)}s",{"&n":{"$$gt":${70 + rng.nextInt(20)}}}]}""")
    case "context" => Some(
      s"""{"&n":{"$$lt":${5 + rng.nextInt(10)}},"#ctx_before":${1 + rng.nextInt(3)},"#ctx_after":${1 + rng.nextInt(3)}}""")
  }

  /** The records a query returns, computed without the engine: the
    * `graft.cond.Interp` tree-walker over each entry's records in time
    * order (the per-entry filter chain of the reference), with the
    * `#ctx_before`/`#ctx_after` record padding applied as a ring buffer
    * and an after-latch. Errors drop the record (non-strict). */
  def expected(q: Query, data: collection.Map[String, Seq[Rec]]): Seq[Rec] = {
    val parsed = q.when.map(Parser.parse)
    def pad(name: String): Int = parsed.flatMap(_.directives.single(name)).map(_.asInt.toInt).getOrElse(0)
    val before = pad("#ctx_before")
    val after = pad("#ctx_after")
    val out = Seq.newBuilder[Rec]
    for ((name, recs) <- data.toSeq.sortBy(_._1) if q.entries.contains(name)) {
      val interp = parsed.map(p => new Interp(p.root))
      val buffer = scala.collection.mutable.ArrayDeque.empty[Rec]
      var afterLeft = -1L
      val inRange = recs.iterator.filter(r => r.ts >= q.start && r.ts < q.stop)
      var interrupted = false
      while (!interrupted && inRange.hasNext) {
        val r = inRange.next()
        buffer.append(r)
        if (buffer.size > before + 1) buffer.removeHead()
        val hit = interp match {
          case None => Some(true)
          case Some(i) =>
            try Some(i(Ctx(r.ts, r.labels)).asBool)
            catch {
              case _: InterruptSignal => None
              case _: CondError => Some(false)
            }
        }
        hit match {
          case None => interrupted = true
          case Some(m) =>
            afterLeft -= 1
            if (m) afterLeft = after.toLong
            if (afterLeft >= 0) { out ++= buffer; buffer.clear() }
        }
      }
    }
    out.result()
  }
}
