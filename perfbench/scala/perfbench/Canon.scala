package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, StructType}

/** Canonical form of one query result, and the comparison rule of the
  * oracle checker (`tools/oracle_check.py`): columns are sorted by name,
  * column types must agree, rows are a multiset, non-floating cells
  * compare exactly and top-level FLOAT/DOUBLE cells within
  * `1e-9 * max(1, |a|, |b|)`.
  *
  * A row is reduced to a 64-bit hash of its exact (non-floating) cells
  * plus its floating cells. The exact cells of all rows are checked
  * through a multiset digest (row count, and the sum and the sum of
  * squares of the row hashes, both mod 2^64); only the floating cells are
  * kept row by row, so the expected record stays small. */
object Canon {
  final case class Result(
      cols: Seq[String], // "name:type", sorted by name
      nRows: Long,
      digest: (Long, Long), // multiset digest over the row hashes
      floats: Option[Map[Long, Seq[Array[Double]]]]) // key prefix -> floating cells of its rows

  def of(schema: StructType, rows: Iterator[Row]): Result = {
    val order = schema.fields.indices.sortBy(i => schema.fields(i).name)
    val cols = order.map { i =>
      s"${schema.fields(i).name}:${typeName(schema.fields(i).dataType)}"
    }
    val isFloat = order.map(i => schema.fields(i).dataType match {
      case DoubleType | FloatType => true
      case _ => false
    })
    val exactIdx = order.zip(isFloat).collect { case (i, false) => i }
    val floatIdx = order.zip(isFloat).collect { case (i, true) => i }
    val md = MessageDigest.getInstance("MD5")
    var n = 0L; var s1 = 0L; var s2 = 0L
    val groups = scala.collection.mutable.HashMap.empty[Long, List[Array[Double]]]
    rows.foreach { r =>
      val sb = new StringBuilder
      exactIdx.foreach { i => render(r.get(i), sb); sb.append('\u0001') }
      val h = hash64(md, sb.toString)
      val fs = floatIdx.map { i =>
        if (r.isNullAt(i)) Double.NaN
        else r.get(i) match {
          case f: java.lang.Float => f.doubleValue
          case d: java.lang.Double => d.doubleValue
        }
      }.toArray
      val nulls = floatIdx.map(r.isNullAt)
      // fold the null pattern into the key: NULL vs value is a real
      // difference at any tolerance, as in the checker
      val key = if (nulls.exists(identity)) h ^ hash64(md, nulls.mkString) else h
      n += 1; s1 += key; s2 += key * key
      // float rows are grouped under a 24-bit prefix of the key: the full
      // key already sits in the digest, and a shared group only means
      // its rows are matched among each other
      if (floatIdx.nonEmpty) groups(key >>> 40) = fs :: groups.getOrElse(key >>> 40, Nil)
    }
    Result(cols, n, (s1, s2),
      if (floatIdx.isEmpty) None else Some(groups.toMap.map { case (k, v) => k -> v.toSeq }))
  }

  private def typeName(t: DataType): String = t.catalogString

  private def hash64(md: MessageDigest, s: String): Long = {
    val d = md.digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  /** Exact, type-stable text of one cell (nested values included). */
  private def render(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb.append("\u0000N")
    case b: Array[Byte] => b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    case d: java.lang.Double => sb.append(java.lang.Double.toString(d))
    case f: java.lang.Float => sb.append(java.lang.Float.toString(f))
    case t: java.sql.Timestamp => sb.append(t.toInstant.toString)
    case bd: java.math.BigDecimal => sb.append(bd.toPlainString)
    case bd: scala.math.BigDecimal => sb.append(bd.bigDecimal.toPlainString)
    case m: scala.collection.Map[_, _] =>
      val parts = m.toSeq.map { case (k, x) =>
        val a = new StringBuilder; render(k, a); a.append("=>"); render(x, a); a.toString
      }.sorted
      sb.append('{'); parts.foreach(p => sb.append(p).append(',')); sb.append('}')
    case s: scala.collection.Seq[_] =>
      sb.append('['); s.foreach { x => render(x, sb); sb.append(',') }; sb.append(']')
    case r: Row =>
      sb.append('('); (0 until r.length).foreach { i => render(r.get(i), sb); sb.append(',') }
      sb.append(')')
    case s: String => sb.append('"').append(s).append('"')
    case o => sb.append(o.toString)
  }

  private def close(a: Double, b: Double): Boolean =
    if (a.isNaN || b.isNaN) a.isNaN && b.isNaN
    else a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  private def rowClose(a: Array[Double], b: Array[Double]): Boolean =
    a.length == b.length && a.indices.forall(i => close(a(i), b(i)))

  private val lexOrder: Ordering[Array[Double]] = (x: Array[Double], y: Array[Double]) => {
    var i = 0; var c = 0
    while (c == 0 && i < math.min(x.length, y.length)) {
      c = java.lang.Double.compare(x(i), y(i)); i += 1
    }
    if (c != 0) c else Integer.compare(x.length, y.length)
  }

  /** None when `got` matches `exp`; otherwise the first difference found. */
  def diff(got: Result, exp: Result): Option[String] = {
    if (got.cols != exp.cols)
      return Some(s"columns ${got.cols.mkString(",")} != ${exp.cols.mkString(",")}")
    if (got.nRows != exp.nRows) return Some(s"row count ${got.nRows} != ${exp.nRows}")
    if (got.digest != exp.digest) return Some("exact cells differ (row multiset digest)")
    (got.floats, exp.floats) match {
      case (Some(g), Some(e)) =>
        e.collectFirst(Function.unlift { case (k, erows) =>
          val grows = g.getOrElse(k, Nil)
          if (grows.size != erows.size) Some(f"row group $k%016x: ${grows.size} != ${erows.size} rows")
          else {
            val gs = grows.sorted(lexOrder); val es = erows.sorted(lexOrder)
            if (gs.zip(es).forall { case (a, b) => rowClose(a, b) }) None
            else {
              // two floats within tolerance can still sort apart: fall back
              // to greedy matching inside the group before reporting
              val pool = scala.collection.mutable.ArrayBuffer(es: _*)
              val missing = gs.find { a =>
                val j = pool.indexWhere(b => rowClose(a, b))
                if (j >= 0) { pool.remove(j); false } else true
              }
              missing.map(a => f"row group $k%016x: no expected row within 1e-9 of ${a.mkString("(", ",", ")")}")
            }
          }
        })
      case _ => None
    }
  }

  // ---- expected-record text format ----------------------------------
  // Q <name> <nRows> <s1> <s2> <nFloatRows>
  // C <col:type>\t<col:type>...
  // F <key delta> <d> <d> ...   one line per float row, sorted by group
  //                             key; doubles in Double.toString form,
  //                             which parses back to the same bits

  def write(name: String, r: Result, out: java.io.Writer): Unit = {
    val fl = r.floats.map(_.valuesIterator.map(_.size).sum).getOrElse(-1)
    out.write(s"Q $name ${r.nRows} ${r.digest._1} ${r.digest._2} $fl\n")
    out.write("C " + r.cols.mkString("\t") + "\n")
    var prev = 0L
    r.floats.foreach(_.toSeq.sortBy(_._1).foreach { case (k, rows) =>
      rows.sorted(lexOrder).foreach { a =>
        out.write(s"F ${k - prev}" + a.map(d => " " + java.lang.Double.toString(d)).mkString + "\n")
        prev = k
      }
    })
  }

  /** Results of the queries accepted by `only`; the others are skipped. */
  def read(in: java.io.BufferedReader, only: String => Boolean): Map[String, Result] = {
    val out = Map.newBuilder[String, Result]
    var line = in.readLine()
    while (line != null) {
      val Array("Q", name, n, s1, s2, fl) = line.split(" ")
      val cols = in.readLine().stripPrefix("C ").split("\t").toSeq.filter(_.nonEmpty)
      if (!only(name)) (0 until fl.toInt).foreach(_ => in.readLine())
      else {
        val floats = if (fl.toInt < 0) None else Some {
          val g = scala.collection.mutable.HashMap.empty[Long, List[Array[Double]]]
          var k = 0L
          (0 until fl.toInt).foreach { _ =>
            val p = in.readLine().split(" ")
            k += p(1).toLong
            g(k) = p.drop(2).map(java.lang.Double.parseDouble) :: g.getOrElse(k, Nil)
          }
          g.toMap.map { case (key, v) => key -> v.toSeq }
        }
        out += name -> Result(cols, n.toLong, (s1.toLong, s2.toLong), floats)
      }
      line = in.readLine()
    }
    out.result()
  }
}
