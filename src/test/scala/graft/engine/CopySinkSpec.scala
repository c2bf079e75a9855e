package graft.engine

import graft.SparkSpecBase
import java.nio.charset.StandardCharsets

class CopySinkSpec extends SparkSpecBase {
  import spark.implicits._

  test("field encoding: nulls unquoted \\N, quoting matches the reference CSV") {
    assert(CopySink.encodeField(null) == "\\N")
    assert(CopySink.encodeField("plain") == "plain")
    assert(CopySink.encodeField("has,comma") == "\"has,comma\"")
    assert(CopySink.encodeField("has\"quote") == "\"has\"\"quote\"")
    assert(CopySink.encodeField(42) == "42")
    assert(CopySink.encodeField("\\N") == "\\N") // pandas also leaves this ambiguous
  }

  test("payloads carry every row exactly once; statement lists columns") {
    val df = Seq(
      ("INV1", Some("ok"), Some(12)),
      ("INV2", None, None),
      ("INV3", Some("a,b"), Some(7))
    ).toDF("inv", "s", "n").repartition(2)
    val stmt = CopySink.copyStatement(df, "iowa_liquor_sales")
    assert(stmt ==
      "COPY iowa_liquor_sales (inv, s, n) FROM STDIN WITH (FORMAT CSV, NULL '\\N')")
    val text = CopySink.copyPayloads(df).collect()
      .map(new String(_, StandardCharsets.UTF_8)).mkString
    val lines = text.split("\n").filter(_.nonEmpty).sorted
    assert(lines.toSeq == Seq("INV1,ok,12", "INV2,\\N,\\N", "INV3,\"a,b\",7"))
  }
}
