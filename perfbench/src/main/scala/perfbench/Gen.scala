package perfbench

import java.sql.DriverManager

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generator. Everything here is plain Spark and plain JDBC:
  * no graft function builds or loads an input, so a change to the program
  * cannot change what the benchmark feeds it. The same seed gives the same
  * rows whatever the partitioning, because every value is a hash of
  * (seed, salt, row key).
  */
final class Gen(spark: SparkSession, seed: Long) {

  private def h(salt: String, cs: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cs): _*)

  private def u(salt: String, mod: Long, cs: Column*): Column =
    pmod(h(salt, cs: _*), lit(mod))

  // 100 consonant-vowel syllables; a word is two of them, so every word is
  // four lowercase letters and the vocabulary has 10,000 words
  private val syllables: Column = {
    val cons = "bcdfghjklmnprstvwxyz"
    val vows = "aeiou"
    array((for (c <- cons; v <- vows) yield lit(s"$c$v")): _*)
  }
  val vocabSize: Long = 10000L

  private def word(idx: Column): Column =
    concat(element_at(syllables, (pmod(idx, lit(100L)) + 1).cast("int")),
      element_at(syllables, (pmod(floor(idx / 100), lit(100L)) + 1).cast("int")))

  private val prios = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW").map(lit): _*)

  /** ORDERS: keys 1..n, one row per key. */
  def orders(n: Long): DataFrame = {
    val k = col("id")
    spark.range(1, n + 1).select(
      k.as("O_ORDERKEY"),
      (u("cust", math.max(1L, n / 10), k) + 1).as("O_CUSTKEY"),
      element_at(array(lit("F"), lit("O"), lit("P")),
        (u("ost", 3, k) + 1).cast("int")).as("O_ORDERSTATUS"),
      (u("otp", 50000000L, k) / 100.0).as("O_TOTALPRICE"),
      element_at(prios, (u("opr", 5, k) + 1).cast("int")).as("O_ORDERPRIORITY"))
  }

  /** LINEITEM for orders 1..nOrders: 1 to 7 lines per order, a unique
    * L_ROWID, and L_DISCOUNT null on `nullPct` percent of the rows.
    */
  def lineitem(nOrders: Long, nullPct: Int): DataFrame = {
    val k = col("O_ORDERKEY")
    val lines = spark.range(1, nOrders + 1).select(col("id").as("O_ORDERKEY"))
      .select(k, explode(sequence(lit(1), (u("nl", 7, k) + 1).cast("int")))
        .as("L_LINENUMBER"))
    val r = col("L_ROWID")
    lines.withColumn("L_ROWID", k * 8 + col("L_LINENUMBER")).select(
      r, k.as("L_ORDERKEY"),
      (u("lpk", 20000, r) + 1).as("L_PARTKEY"),
      (u("lsk", 1000, r) + 1).as("L_SUPPKEY"),
      col("L_LINENUMBER"),
      (u("lq", 50, r) + 1).cast("double").as("L_QUANTITY"),
      ((u("lq", 50, r) + 1) * (u("lp", 100000, r) / 100.0 + 900.0)).as("L_EXTENDEDPRICE"),
      when(u("lnull", 100, r) < nullPct, lit(null).cast("double"))
        .otherwise(u("ld", 11, r) / 100.0).as("L_DISCOUNT"),
      (u("lt", 9, r) / 100.0).as("L_TAX"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (u("lrf", 3, r) + 1).cast("int")).as("L_RETURNFLAG"),
      element_at(array(lit("O"), lit("F")),
        (u("lls", 2, r) + 1).cast("int")).as("L_LINESTATUS"),
      date_add(lit("1992-01-01").cast("date"), u("lsd", 2500, r).cast("int"))
        .as("L_SHIPDATE"),
      array_join(transform(sequence(lit(1), (u("lcn", 6, r) + 2).cast("int")),
        j => word(h("lcw", r, j))), " ").as("L_COMMENT"))
  }

  /** A document corpus of `n` docs with ids 0..n-1 in seeded order. Docs
    * come in pairs of consecutive row numbers; in `dupPct` percent of the
    * pairs the second doc is a copy of the first with one word replaced
    * (Jaccard of word 3-shingles >= 0.91 at 60+ words), so every
    * near-duplicate cluster has exactly two members and the share of docs
    * that are near-duplicates is dupPct / 2 percent. Unrelated docs share
    * no shingle in practice (10,000-word vocabulary).
    */
  def documents(n: Long, dupPct: Int): DataFrame = {
    val r = col("id")
    val isCopy = pmod(r, lit(2L)) === 1 && u("dup", 100, floor(r / 2)) < dupPct
    val key = when(isCopy, r - 1).otherwise(r)
    val len = (u("len", 41, col("key")) + 60).cast("int")
    val pos = u("pos", 1000000, col("key")) % len
    val text = array_join(transform(sequence(lit(0), len - 1), j => {
      val w = u("w", vocabSize, col("key"), j)
      val alt = pmod(w + 1 + u("alt", vocabSize - 1, col("key")), lit(vocabSize))
      word(when(col("copy") && j === pos, alt).otherwise(w))
    }), " ")
    spark.range(0, n).select(r, key.as("key"), isCopy.as("copy"))
      .select(r, text.as("text"))
      .withColumn("doc_id",
        row_number().over(Window.orderBy(h("perm", r), r)).cast("long") - 1)
      .select(col("doc_id"), col("text"))
  }
}

/** Plain-Spark references the outputs are checked against. */
object Reference {

  /** Order-independent (count, hash) of a frame: the hash is the sum of a
    * per-row xxhash64 over the string forms of `cols`, reduced below 2^32 so
    * the sum cannot overflow.
    */
  def rowHash(cols: Seq[String]): Column =
    pmod(xxhash64(concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\\N"))): _*)), lit(4294967291L))

  def countAndHash(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(rowHash(cols)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Survivors of canonical-min-id near-duplicate removal by EXACT Jaccard
    * of distinct word 3-shingles: a doc is dropped when a doc with a
    * smaller id has Jaccard >= threshold with it. Docs must have at least
    * three words.
    */
  def exactDedupSurvivors(docs: DataFrame, threshold: Double): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    val sh = toks.select(col("doc_id"), explode(array_distinct(
      transform(sequence(lit(0), size(col("t")) - 3),
        i => concat_ws(" ", slice(col("t"), i + 1, lit(3)))))).as("sh"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("l"), col("b.doc_id").as("r"))
      .agg(count(lit(1)).as("i"))
    val dropped = inter
      .join(sizes.select(col("doc_id").as("l"), col("n").as("nl")), "l")
      .join(sizes.select(col("doc_id").as("r"), col("n").as("nr")), "r")
      .where(col("i") / (col("nl") + col("nr") - col("i")) >= threshold)
      .select(col("r").as("doc_id")).distinct()
    docs.select("doc_id").join(dropped, Seq("doc_id"), "left_anti")
  }

  /** What the extract op computes, in plain Spark SQL over the generator's
    * parquet: join for the lookup, CASE for the recode, and a window for
    * the last-observation-carried-forward-plus-one fill.
    */
  def extract(li: DataFrame, ord: DataFrame, ranges: Seq[(Long, Long)]): DataFrame = {
    val inRange = ranges.map { case (a, b) =>
      col("L_ORDERKEY") >= a && col("L_ORDERKEY") < b }.reduce(_ || _)
    val base = li.where(inRange)
      .select("L_ROWID", "L_ORDERKEY", "L_QUANTITY", "L_EXTENDEDPRICE",
        "L_DISCOUNT", "L_RETURNFLAG", "L_LINESTATUS")
      .withColumn("NET", col("L_EXTENDEDPRICE") *
        (lit(1.0) - coalesce(col("L_DISCOUNT"), lit(0.0))))
      .join(ord.select(col("O_ORDERKEY").as("L_ORDERKEY"),
        col("O_ORDERPRIORITY").as("PRIO")), "L_ORDERKEY")
      .withColumn("L_LINESTATUS",
        expr("CASE L_LINESTATUS WHEN 'O' THEN 'open' WHEN 'F' THEN 'filled' " +
          "ELSE L_LINESTATUS END"))
    val w = Window.orderBy("L_ROWID")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("__rn", row_number().over(Window.orderBy("L_ROWID")))
      .withColumn("__last", last(col("L_DISCOUNT"), ignoreNulls = true).over(w))
      .withColumn("__lastrn",
        max(when(col("L_DISCOUNT").isNotNull, col("__rn"))).over(w))
      .withColumn("DISC_FILLED", when(col("L_DISCOUNT").isNotNull, col("L_DISCOUNT"))
        .otherwise(col("__last") + (col("__rn") - col("__lastrn")).cast("double")))
  }

  val extractCols: Seq[String] = Seq("L_ROWID", "L_ORDERKEY", "L_QUANTITY",
    "L_EXTENDEDPRICE", "L_DISCOUNT", "L_RETURNFLAG", "L_LINESTATUS", "NET",
    "PRIO", "DISC_FILLED")
}

/** Loads a frame into a Derby table with plain JDBC batch inserts, one
  * connection and one transaction per partition.
  */
object DerbyLoad {

  def exec(url: String, sqls: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try sqls.foreach(s => { val st = c.createStatement(); try st.execute(s) finally st.close() })
    finally c.close()
  }

  def insert(df: DataFrame, url: String, table: String): Unit = {
    val names = df.columns.toSeq
    val types = df.schema.fields.map(f => sqlType(f.dataType))
    val sql = s"INSERT INTO $table (${names.mkString(", ")}) VALUES (" +
      names.map(_ => "?").mkString(", ") + ")"
    df.rdd.foreachPartition((rows: Iterator[Row]) => {
      val c = DriverManager.getConnection(url)
      try {
        c.setAutoCommit(false)
        val ps = c.prepareStatement(sql)
        var pending = 0
        rows.foreach { row =>
          var i = 0
          while (i < types.length) {
            if (row.isNullAt(i)) ps.setNull(i + 1, types(i))
            else ps.setObject(i + 1, row.get(i))
            i += 1
          }
          ps.addBatch()
          pending += 1
          if (pending == 1000) { ps.executeBatch(); pending = 0 }
        }
        if (pending > 0) ps.executeBatch()
        ps.close()
        c.commit()
      } finally c.close()
    })
  }

  private def sqlType(dt: DataType): Int = dt match {
    case LongType => java.sql.Types.BIGINT
    case IntegerType => java.sql.Types.INTEGER
    case DoubleType => java.sql.Types.DOUBLE
    case DateType => java.sql.Types.DATE
    case _ => java.sql.Types.VARCHAR
  }

  /** Shuts one embedded database down; Derby signals success by throwing. */
  def shutdown(dbUrl: String): Unit =
    try DriverManager.getConnection(s"$dbUrl;shutdown=true").close()
    catch { case _: java.sql.SQLException => () }
}
