package graft.engine

import graft.SparkSpecBase
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.functions.col

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
      val text = CopySink.copyPayloads(df).collect()
        .map(new String(_, StandardCharsets.UTF_8)).mkString
      val lines = text.split("\n").filter(_.nonEmpty).sorted
      assert(lines.toSeq == Seq("INV1,ok,12,2024-01-02 03:04:05.5", "INV2,\\N,\\N,\\N",
        "INV3,\"a,b\",7,2024-07-08 23:30:00.0"))
    } finally spark.conf.set(zoneKey, zone0)
  }
}
