package pkel.io

import pkel.SparkSpec

/** S2 round trip: the JSONL sink writes one JSON object per line that the
  * drop-malformed scan reads back unchanged (`utils.py:7-13` semantics,
  * including unescaped forward slashes). */
class SinksSpec extends SparkSpec {

  test("writeJsonl round-trips rows and keeps forward slashes unescaped") {
    import spark.implicits._
    val df = Seq(
      (1L, "t1/2 of drug", "Q57"),
      (2L, "AUC0-∞", "Q88"))
      .toDF("id", "text", "label")
    val dir = tempDir("jsonl-sink") + "/out"
    Sinks.writeJsonl(df, dir)
    val back = spark.read.json(dir).select("id", "text", "label")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(back == Set((1L, "t1/2 of drug", "Q57"), (2L, "AUC0-∞", "Q88")))
    // reference's write_jsonl does NOT escape '/', neither may ours
    val raw = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".json"))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines()).mkString("\n")
    assert(raw.contains("t1/2 of drug") && !raw.contains("t1\\/2"))
  }
}
