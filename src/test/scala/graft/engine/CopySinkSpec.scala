package graft.engine

import graft.SparkSpecBase
import java.nio.charset.StandardCharsets
import java.time.ZoneId
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, unhex}
import org.apache.spark.sql.types._

class CopySinkSpec extends SparkSpecBase {
  import spark.implicits._

  test("field encoding: nulls unquoted \\N, quoting matches the reference CSV") {
    assert(CopySink.encodeField(null) == "\\N")
    assert(CopySink.encodeField("plain") == "plain")
    assert(CopySink.encodeField("has,comma") == "\"has,comma\"")
    assert(CopySink.encodeField("has\"quote") == "\"has\"\"quote\"")
    assert(CopySink.encodeField(42) == "42")
    // quoted so Spark's CSV reader, like PostgreSQL, loads "" (pandas
    // writes it unquoted; the loaded value is the same)
    assert(CopySink.encodeField("") == "\"\"")
    assert(CopySink.encodeField("\\N") == "\\N") // pandas also leaves this ambiguous
  }

  test("payloads carry every row exactly once; statement lists columns") {
    // timestamps are written in the session zone, as writeCsvForCopy
    // writes them, not in the JVM's default zone
    val zoneKey = "spark.sql.session.timeZone"
    val zone0 = spark.conf.get(zoneKey)
    spark.conf.set(zoneKey, "America/Chicago")
    try {
      val df = Seq(
        ("INV1", Some("ok"), Some(12), Some("2024-01-02 03:04:05.5")),
        ("INV2", None, None, None),
        ("INV3", Some("a,b"), Some(7), Some("2024-07-08 23:30:00"))
      ).toDF("inv", "s", "n", "t").withColumn("t", col("t").cast("timestamp")).repartition(2)
      val stmt = CopySink.copyStatement(df, "iowa_liquor_sales")
      assert(stmt ==
        "COPY iowa_liquor_sales (inv, s, n, t) FROM STDIN WITH (FORMAT CSV, NULL '\\N')")
      val text = CopySink.payloadsWithCounts(df).collect().map(_._1)
        .map(new String(_, StandardCharsets.UTF_8)).mkString
      val lines = text.split("\n").filter(_.nonEmpty).sorted
      assert(lines.toSeq == Seq("INV1,ok,12,2024-01-02 03:04:05.5", "INV2,\\N,\\N,\\N",
        "INV3,\"a,b\",7,2024-07-08 23:30:00.0"))
    } finally spark.conf.set(zoneKey, zone0)
  }

  test("binary-row payloads equal encodeRow over collected Rows, byte for byte") {
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("s", StringType),
      StructField("l", LongType), StructField("d2", DecimalType(18, 2)),
      StructField("d3", DecimalType(18, 3)), StructField("d10", DecimalType(38, 10)),
      StructField("t", StringType), StructField("day", StringType),
      StructField("flag", BooleanType), StructField("x", DoubleType),
      StructField("arr", ArrayType(StringType)), StructField("hex", StringType)))
    def dec(s: String) = new java.math.BigDecimal(s)
    val strings = Seq(null, "", "plain", "a,b", "say \"hi\"", "line\nbreak", "cr\rlf",
      "crlf\r\n", "é", "\uD83D\uDE00 4-byte", "\\N", " edge ", "\"")
    // malformed UTF-8: a surrogate, an overlong NUL, a lone continuation
    // byte, a cut sequence; each goes through the String path
    val hex = Seq(null, "EDA080", "C080", "80", "E282", "C3A9")
    val rows = strings.indices.map { i =>
      Row(
        i match { case 0 => Int.MinValue; case 1 => null; case 2 => Int.MaxValue
          case _ => (i - 6) * 12345 },
        strings(i),
        Seq(Long.MinValue, Long.MaxValue, 0L, -1L, null)(i % 5),
        Seq(dec("-12345.67"), dec("0.00"), null, dec("99999999.99"))(i % 4),
        Seq(dec("-0.001"), null, dec("123456789012345.678"))(i % 3),
        Seq(dec("-123456789.0123456789"), dec("0E-10"), dec("1E-10"), null,
          dec("9999999999999999999999999999.9999999999"))(i % 5),
        Seq("1969-07-20 20:17:40.123456", "1900-01-01 00:00:00", null,
          "2024-03-10 02:30:00.000001", "1970-01-01 00:00:00.5")(i % 5),
        Seq("1969-12-31", null, "2024-02-29")(i % 3),
        Seq(true, false, null)(i % 3),
        Seq(1.5e10, -0.0, Double.NaN, null, 0.1)(i % 5),
        Seq(Seq("a", "b,c"), null, Seq(null, "x"), Seq.empty[String])(i % 4),
        hex(i % hex.length))
    }
    val zoneKey = "spark.sql.session.timeZone"
    val partsKey = "spark.sql.shuffle.partitions"
    val (zone0, parts0) = (spark.conf.get(zoneKey), spark.conf.get(partsKey))
    try {
      for (zone <- Seq("UTC", "America/Chicago"); parts <- Seq("1", "3")) {
        spark.conf.set(zoneKey, zone)
        spark.conf.set(partsKey, parts)
        val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .withColumn("t", col("t").cast("timestamp"))
          .withColumn("day", col("day").cast("date"))
          .withColumn("hex", unhex(col("hex")).cast("string"))
          .repartition(col("id")).sortWithinPartitions("id")
        val payloads = CopySink.payloadsWithCounts(df).collect()
        val want = df.collect().map(CopySink.encodeRow(_, ZoneId.of(zone)) + "\n")
        val got = payloads.map(p => new String(p._1, StandardCharsets.UTF_8)).mkString
        assert(payloads.map(_._2).sum == rows.size)
        assert(payloads.length <= parts.toInt)
        // line for line, then as bytes
        assert(got.split("\n", -1).toSeq == want.mkString.split("\n", -1).toSeq, s"$zone/$parts")
        assert(payloads.flatMap(_._1).toSeq ==
          want.mkString.getBytes(StandardCharsets.UTF_8).toSeq, s"$zone/$parts")
      }
    } finally {
      spark.conf.set(zoneKey, zone0)
      spark.conf.set(partsKey, parts0)
    }
  }
}
