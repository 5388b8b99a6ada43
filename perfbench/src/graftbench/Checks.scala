package graftbench

import java.nio.charset.StandardCharsets

import graft.model.Page
import graft.pipeline.{ExtractedRecord, ScalarEvaluator}
import graft.rules.RuleSets
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Output checks. All of them run outside the timed region. */
object Checks {

  /** Order-independent digest of a multiset of records: count, sum and
    * xor of 64-bit hashes of each record's canonical form.
    */
  final case class Digest(n: Long, sum: Long, xor: Long) {
    def +(o: Digest): Digest = Digest(n + o.n, sum + o.sum, xor ^ o.xor)
  }
  private val Zero = Digest(0, 0, 0)

  // the golden contract's field list (GoldenPipelineSpec): every output
  // column of a record, in ExtractedRecord order
  private val Cols = Seq("url", "page_type", "target_section",
    "routed_section", "txn_type", "txn_type_detail", "row_text",
    "portfolio_no", "client_name", "trade_date", "settlement_date",
    "transaction_type_raw", "currency", "quantity", "security_name",
    "securities_id", "account_no", "foreign_unit_price",
    "foreign_gross_consideration", "foreign_net_consideration",
    "net_consideration", "market_price", "market_value", "cost_price",
    "valuation_date", "currency_buy", "amount_buy", "currency_sell",
    "amount_sell", "trade_date_iso", "settlement_date_iso",
    "net_consideration_num", "market_value_num", "validation_errors")
  private val Sep = "\u001F"
  private val Null = "∅"

  private def field(v: Any): String = v match {
    case null => Null
    case None => Null
    case Some(d: BigDecimal) => d.setScale(6).bigDecimal.toPlainString
    case d: BigDecimal => d.setScale(6).bigDecimal.toPlainString
    case d: java.math.BigDecimal => d.setScale(6).toPlainString
    case s: scala.collection.Seq[_] => s.mkString(",")
    case x => x.toString
  }

  private def hash(fields: Iterator[Any]): Long = {
    val b = fields.map(field).mkString(Sep).getBytes(StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      b.length, 0L)
  }

  private def digestOf(hs: Iterator[Long]): Digest =
    hs.foldLeft(Zero)((d, h) => d + Digest(1, h, h))

  /** Digest of a record frame (the committed or streamed output). */
  def recordsDigest(df: DataFrame): Digest =
    df.select(Cols.map(col): _*).rdd
      .mapPartitions(it => Iterator(digestOf(it.map(r =>
        hash(r.toSeq.iterator)))))
      .collect().foldLeft(Zero)(_ + _)

  /** Digest of the golden twin: ScalarEvaluator over the same pages. */
  def scalarDigest(pages: Dataset[Page]): Digest =
    pages.rdd
      .mapPartitions(it => Iterator(digestOf(it.flatMap(p =>
        ScalarEvaluator.process(p, RuleSets.plugin).iterator
          .map((r: ExtractedRecord) => hash(r.productIterator))))))
      .collect().foldLeft(Zero)(_ + _)

  /** The planted ground truth of the curation corpus (DocsGen.plantedText)
    * over a curated output with ids 0 until n. Returns the violations.
    */
  def curatedTruth(curated: DataFrame, n: Long): Seq[String] = {
    val rows = curated.select(col("doc_id").cast("long"),
        col("clean_text").contains("@example.com"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1))
    val ids = rows.map(_._1).toSet
    val bad = Seq.newBuilder[String]
    if (rows.length != ids.size) bad += "duplicate doc_id in output"
    if (ids.isEmpty) bad += "no documents survived"
    rows.filter(_._2).take(3).foreach { case (id, _) =>
      bad += s"doc $id still carries an @example.com contact" }
    ids.filter(_ % 17 == 0).take(3).foreach(id =>
      bad += s"promo doc $id survived")
    (0L until n / 10).foreach { g =>
      val pairs = Seq("exact-dup" -> (10 * g, 10 * g + 1),
        "near-dup" -> (10 * g + 4, 10 * g + 5))
      pairs.foreach { case (kind, (a, b)) =>
        val kept = Seq(a, b).count(ids.contains)
        if (kept != 1)
          bad += s"$kind group $g kept $kept of docs $a, $b (want 1)"
      }
    }
    bad.result()
  }

  /** Full-output suffix-array check: the rows (id, pos, sa_rank, lcp)
    * are a permutation of all token positions, adjacent suffixes are
    * strictly ordered (ties by (id, pos)), and each lcp equals the
    * common prefix length with the previous suffix. Returns the first
    * violation.
    */
  def suffixArray(sa: Array[Row], docs: DataFrame): Option[String] = {
    val toks: Map[Long, Array[UTF8String]] =
      docs.select(col("doc_id").cast("long"),
          graft.ops.Dedup.tokens(col("text")))
        .collect()
        .map(r => r.getLong(0) ->
          r.getSeq[String](1).map(UTF8String.fromString).toArray)
        .toMap
    val n = toks.values.map(_.length.toLong).sum
    if (sa.length != n)
      return Some(s"SA has ${sa.length} rows, corpus has $n positions")
    val rows = sa.map(r => (r.getAs[Long]("id"), r.getAs[Long]("pos"),
      r.getAs[Long]("sa_rank"), r.getAs[Long]("lcp"))).sortBy(_._3)
    if (!rows.indices.forall(i => rows(i)._3 == i + 1))
      return Some("sa_rank is not 1..n")
    if (rows.map(r => (r._1, r._2)).toSet.size != n ||
        !rows.forall(r => toks.get(r._1).exists(t => r._2 >= 0 && r._2 < t.length)))
      return Some("SA rows are not the corpus token positions")
    // (common prefix length, ordering) of two suffixes
    def cmp(a: (Long, Long), b: (Long, Long)): (Int, Int) = {
      val ta = toks(a._1); val tb = toks(b._1)
      var i = 0
      val la = ta.length - a._2.toInt; val lb = tb.length - b._2.toInt
      while (i < la && i < lb &&
          ta(a._2.toInt + i) == tb(b._2.toInt + i)) i += 1
      val ord =
        if (i < la && i < lb) ta(a._2.toInt + i).compareTo(tb(b._2.toInt + i))
        else if (la != lb) Integer.compare(la, lb)
        else if (a._1 != b._1) java.lang.Long.compare(a._1, b._1)
        else java.lang.Long.compare(a._2, b._2)
      (i, ord)
    }
    if (rows.nonEmpty && rows(0)._4 != 0) return Some("lcp of rank 1 is not 0")
    (1 until rows.length).iterator.map { i =>
      val (lcp, ord) = cmp((rows(i - 1)._1, rows(i - 1)._2),
        (rows(i)._1, rows(i)._2))
      if (ord >= 0) Some(s"suffixes at ranks $i and ${i + 1} are out of order")
      else if (lcp != rows(i)._4)
        Some(s"lcp at rank ${i + 1} is ${rows(i)._4}, want $lcp")
      else None
    }.collectFirst { case Some(e) => e }
  }

  /** q156 rows must be exactly the positions whose maximal repeat
    * length (the larger lcp with either SA neighbour) is >= 8, derived
    * here from a verified q155 output.
    */
  def dupSpans(q156: Array[Row], sa: Array[Row]): Option[String] = {
    val byRank = sa.sortBy(_.getAs[Long]("sa_rank"))
    val lcp = byRank.map(_.getAs[Long]("lcp"))
    val want = byRank.indices.map { i =>
      val dup = math.max(lcp(i), if (i + 1 < lcp.length) lcp(i + 1) else 0L)
      (byRank(i).getAs[Long]("id"), byRank(i).getAs[Long]("pos"), dup)
    }.filter(_._3 >= 8).toSet
    val got = q156.map(r => (r.getAs[Long]("id"), r.getAs[Long]("pos"),
      r.getAs[Long]("dup_len"))).toSet
    if (got.size != q156.length) Some("q156 has duplicate rows")
    else if (got != want)
      Some(s"q156 has ${got.size} rows, ${(got diff want).size} unexpected " +
        s"and ${(want diff got).size} missing")
    else None
  }
}
