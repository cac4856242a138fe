package graft.perfbench

import org.apache.spark.sql.Row

/** Answer comparison against an oracle. Counts, longs and strings must
  * match exactly; doubles within [[RelTol]] relative error (summation
  * order differs between engines and partitionings). */
object Check {

  val RelTol = 1e-9

  def canon(v: Any): Any = v match {
    case t: java.sql.Timestamp => t.getTime
    case t: java.time.Instant => t.toEpochMilli
    case i: Int => i.toLong
    case f: Float => f.toDouble
    case o => o
  }

  def canon(r: Row): List[Any] = r.toSeq.map(canon).toList

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= RelTol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => close(x, y)
    case (x: Double, y: Long) => close(x, y.toDouble)
    case (x: Long, y: Double) => close(x.toDouble, y)
    case (x: List[_], y: List[_]) => x.size == y.size && x.zip(y).forall { case (p, q) => sameValue(p, q) }
    case _ => a == b
  }

  /** None when `got` equals `want`; otherwise a message naming the
    * first difference. Unordered answers compare after sorting on the
    * non-double columns. */
  def rows(what: String, got: Seq[List[Any]], want: Seq[List[Any]],
           ordered: Boolean): Option[String] = {
    def key(r: List[Any]): String = r.map {
      case _: Double => ""
      case x => String.valueOf(x)
    }.mkString("\u0001")
    val (g, w) = if (ordered) (got, want) else (got.sortBy(key), want.sortBy(key))
    if (g.size != w.size) Some(s"$what: ${g.size} rows, oracle has ${w.size}")
    else g.zip(w).zipWithIndex.collectFirst {
      case ((a, b), i) if !sameValue(a, b) => s"$what: row $i is $a, oracle has $b"
    }
  }

  /** Named scalar checks: None when every pair matches. */
  def values(what: String, pairs: Seq[(String, Any, Any)]): Option[String] =
    pairs.collectFirst {
      case (name, got, want) if !sameValue(canon(got), canon(want)) =>
        s"$what: $name is $got, oracle has $want"
    }
}
