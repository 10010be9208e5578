package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Deterministic TPC-H-shaped source tables and change streams.
  *
  * Row counts follow the TPC-H scale factor (orders = 1.5 M × sf,
  * lineitem ≈ 4 × orders). Every value comes from the seed; only event
  * timestamps may be taken at creation (open-loop workloads), so the
  * same seed gives the same rows, keys, ops and file boundaries on
  * every run. */
object Gen {

  val Orders = TableDef("TPCH", "ORDERS", Seq(
    Field("O_ORDERKEY", KLong), Field("O_CUSTKEY", KLong),
    Field("O_ORDERSTATUS", KStr), Field("O_TOTALPRICE", KDec),
    Field("O_ORDERDATE", KTs), Field("O_ORDERPRIORITY", KStr)),
    Seq("O_ORDERKEY"))

  /** The column the widening ALTER adds to ORDERS. */
  val OrdersComment = Field("O_COMMENT", KStr)

  val Lineitem = TableDef("TPCH", "LINEITEM", Seq(
    Field("L_ORDERKEY", KLong), Field("L_LINENUMBER", KLong),
    Field("L_PARTKEY", KLong), Field("L_SUPPKEY", KLong),
    Field("L_QUANTITY", KDec), Field("L_EXTENDEDPRICE", KDec),
    Field("L_DISCOUNT", KDec), Field("L_TAX", KDec),
    Field("L_RETURNFLAG", KStr), Field("L_LINESTATUS", KStr),
    Field("L_SHIPDATE", KTs)), Seq("L_ORDERKEY", "L_LINENUMBER"))

  private val Statuses = Array("F", "O", "P")
  private val Priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val DayUs = 86400L * 1000000L
  private val Epoch1992Us = 694224000L * 1000000L

  private def money(r: SplittableRandom, lo: Int, hi: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(lo * 100L + r.nextLong((hi - lo) * 100L), 2)

  def orderKey(i: Long): Long = (i / 8) * 32 + (i % 8) + 1 // TPC-H's sparse keys

  def orderRow(r: SplittableRandom, key: Long, cust: Long): Array[Any] =
    Array[Any](key, cust, Statuses(r.nextInt(3)), money(r, 900, 500000),
      Epoch1992Us + r.nextInt(2400) * DayUs, Priorities(r.nextInt(5)))

  def orders(r: SplittableRandom, sf: Double): Array[Array[Any]] = {
    val n = math.max(1, (1500000 * sf).round.toInt)
    val custs = math.max(1, (150000 * sf).round.toInt)
    Array.tabulate(n)(i => orderRow(r, orderKey(i), 1L + r.nextInt(custs)))
  }

  def lineRow(r: SplittableRandom, ok: Long, ln: Long, sf: Double): Array[Any] = {
    val parts = math.max(1, (200000 * sf).round.toInt)
    val supps = math.max(1, (10000 * sf).round.toInt)
    Array[Any](ok, ln, 1L + r.nextInt(parts), 1L + r.nextInt(supps),
      java.math.BigDecimal.valueOf(1 + r.nextInt(50)).setScale(2),
      money(r, 900, 100000), java.math.BigDecimal.valueOf(r.nextInt(11), 2),
      java.math.BigDecimal.valueOf(r.nextInt(9), 2),
      if (r.nextBoolean()) "N" else "R", if (r.nextBoolean()) "O" else "F",
      Epoch1992Us + r.nextInt(2500) * DayUs)
  }

  def lineitem(r: SplittableRandom, sf: Double): Array[Array[Any]] = {
    val n = math.max(1, (1500000 * sf).round.toInt)
    val out = Array.newBuilder[Array[Any]]
    var i = 0
    while (i < n) {
      val lines = 1 + r.nextInt(7)
      var ln = 1
      while (ln <= lines) { out += lineRow(r, orderKey(i), ln, sf); ln += 1 }
      i += 1
    }
    out.result()
  }

  /** A logical source clock: `base` plus one millisecond per event, for
    * workloads whose inputs must not depend on when they were made. */
  def logicalClock(base: Long = LogicalEpochMs): () => Long = {
    var t = base
    () => { t += 1; t }
  }
  val LogicalEpochMs = 1767225600000L // 2026-01-01T00:00:00Z

  /** Zipf(s) over `n` ranks, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Source-side change generator over a live key set: the state a
    * database would hold, so deletes and updates hit existing rows and
    * PK changes move a row to a fresh key. Keys are encoded as Long
    * (`keyOf`); `rows` holds each live key's current row. */
  final class Source(r: SplittableRandom, keyOf: Array[Any] => Long,
      initial: Array[Array[Any]], hotShare: Double = 0.0,
      clock: () => Long = () => System.currentTimeMillis()) {
    private val keys = mutable.ArrayBuffer.empty[Long]
    private val pos = mutable.HashMap.empty[Long, Int]
    val rows = mutable.HashMap.empty[Long, Array[Any]]
    private val zipf = new Zipf(1024, 1.1)
    private var scn = 1000L
    initial.foreach(add)

    private def add(row: Array[Any]): Unit = {
      val k = keyOf(row)
      pos(k) = keys.size; keys += k; rows(k) = row
    }
    private def remove(k: Long): Unit = {
      val i = pos.remove(k).get
      val last = keys.remove(keys.size - 1)
      if (last != k) { keys(i) = last; pos(last) = i }
      rows.remove(k); ()
    }
    private def pick(): Long =
      if (hotShare > 0 && r.nextDouble() < hotShare)
        keys(math.min(keys.size - 1, zipf.sample(r)))
      else keys(r.nextInt(keys.size))

    private def ev(ct: String, row: Array[Any], ssn: Long = 0L): Ev = {
      scn += 1
      Ev(ct, row, clock(), scn, ssn, f"0x$scn%010x")
    }

    /** Snapshot events for every live row, in key-array order. */
    def snapshot(): Seq[Ev] = keys.toSeq.map(k => ev(null, rows(k)))

    /** The next event(s) of a CDC mix: updates dominate; inserts,
      * deletes and PK-changing UPDATE-DELETE/UPDATE-INSERT pairs
      * follow. `fresh` mints a new row for a new key; `touch` derives
      * an updated row; `rekey` moves a row to a new key. */
    def next(fresh: SplittableRandom => Array[Any],
        touch: (SplittableRandom, Array[Any]) => Array[Any],
        rekey: Option[(SplittableRandom, Array[Any]) => Array[Any]]): Seq[Ev] = {
      val p = r.nextInt(100)
      if (p < 70 || keys.size < 16) {
        val k = pick(); val row = touch(r, rows(k)); rows(k) = row
        Seq(ev("UPDATE", row))
      } else if (p < 85) {
        val row = fresh(r); add(row); Seq(ev("INSERT", row))
      } else if (p < 95 || rekey.isEmpty) {
        val k = keys(r.nextInt(keys.size)); val row = rows(k); remove(k)
        Seq(ev("DELETE", row))
      } else {
        val k = keys(r.nextInt(keys.size)); val old = rows(k); remove(k)
        val moved = rekey.get(r, old); add(moved)
        Seq(ev("UPDATE-DELETE", old, 0L), ev("UPDATE-INSERT", moved, 1L))
      }
    }
  }
}
