package graft.model

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

class DimFilterSpec extends SparkSpec {

  private lazy val df: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "alpha", "A", 10.0, Seq("x", "y"), 1000L),
      (2L, "beta", "B", 20.0, Seq("y"), 2000L),
      (3L, "gamma", "A", 30.0, Seq("z"), 3000L),
      (4L, "alphabet", "B", 40.0, Seq.empty[String], 4000L),
      (5L, null.asInstanceOf[String], "C", 50.0, Seq("x", "z"), 5000L))
      .toDF("id", "name", "grade", "score", "tags", "ms")
      .withColumn("t", org.apache.spark.sql.functions.timestamp_millis($"ms"))
  }

  private def ids(f: DimFilter): Set[Long] =
    df.filter(f.compile(df.schema)).select("id").collect().map(_.getLong(0)).toSet

  private def idsJson(json: String): Set[Long] = ids(DimFilter.parse(json))

  test("selector matches equality; null value matches missing") {
    assert(idsJson("""{"type":"selector","dimension":"name","value":"alpha"}""") == Set(1L))
    assert(ids(DimFilter.Selector("name", None)) == Set(5L))
  }

  test("in filter") {
    assert(idsJson("""{"type":"in","dimension":"grade","values":["A","C"]}""") == Set(1L, 3L, 5L))
  }

  test("bound: lexicographic vs numeric") {
    // lexicographic over name
    assert(idsJson("""{"type":"bound","dimension":"name","lower":"alpha","upper":"beta","lowerStrict":false,"upperStrict":true}""") == Set(1L, 4L))
    // numeric over score (string bounds, numeric ordering)
    assert(idsJson("""{"type":"bound","dimension":"score","lower":"15","upper":"40","ordering":"numeric"}""") == Set(2L, 3L, 4L))
    // strict bounds
    assert(idsJson("""{"type":"bound","dimension":"score","lower":"20","lowerStrict":true,"ordering":"numeric"}""") == Set(3L, 4L, 5L))
  }

  test("like and regex") {
    assert(idsJson("""{"type":"like","dimension":"name","pattern":"alpha%"}""") == Set(1L, 4L))
    assert(idsJson("""{"type":"regex","dimension":"name","pattern":"a$"}""") == Set(1L, 2L, 3L))
  }

  test("search contains, case-insensitive by default") {
    assert(idsJson("""{"type":"search","dimension":"name","query":{"type":"insensitive_contains","value":"ALPHA"}}""") == Set(1L, 4L))
    assert(idsJson("""{"type":"search","dimension":"name","query":{"type":"contains","value":"ALPHA"}}""") == Set.empty[Long])
  }

  test("interval filter on timestamp column") {
    assert(idsJson("""{"type":"interval","dimension":"t","intervals":["1970-01-01T00:00:02Z/1970-01-01T00:00:04Z"]}""") == Set(2L, 3L))
  }

  test("logical and/or/not nest") {
    val j =
      """{"type":"and","fields":[
        |  {"type":"or","fields":[
        |    {"type":"selector","dimension":"grade","value":"A"},
        |    {"type":"selector","dimension":"grade","value":"B"}]},
        |  {"type":"not","field":{"type":"like","dimension":"name","pattern":"%bet"}}
        |]}""".stripMargin
    assert(idsJson(j) == Set(1L, 2L, 3L))
  }

  test("multi-value dimension: selector/in match ANY value (Druid semantics)") {
    assert(idsJson("""{"type":"selector","dimension":"tags","value":"x"}""") == Set(1L, 5L))
    assert(idsJson("""{"type":"in","dimension":"tags","values":["y","z"]}""") == Set(1L, 2L, 3L, 5L))
  }

  test("SQL three-valued null semantics (Druid SQL-compatible mode)") {
    // name is null for id=5: selector != and NOT selector both exclude
    // null rows, matching Druid's modern (SQL-compatible) null handling
    assert(!idsJson("""{"type":"not","field":{"type":"selector","dimension":"name","value":"alpha"}}""").contains(5L))
    assert(!idsJson("""{"type":"bound","dimension":"name","lower":"a"}""").contains(5L))
    assert(idsJson("""{"type":"selector","dimension":"name","value":null}""") == Set(5L))
  }

  test("expression filter uses SQL dialect") {
    assert(idsJson("""{"type":"expression","expression":"score > 25 AND grade = 'A'"}""") == Set(3L))
  }

  test("columnComparison") {
    val df2 = df.withColumn("grade2", org.apache.spark.sql.functions.lit("A"))
    val f = DimFilter.parse("""{"type":"columnComparison","dimensions":["grade","grade2"]}""")
    val got = df2.filter(f.compile(df2.schema)).select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L))
  }

  test("extractionFn on filters: value test applies to the extracted value") {
    // substring(0,1) == 'a' → alpha, alphabet
    assert(idsJson(
      """{"type":"selector","dimension":"name","value":"a",
        |"extractionFn":{"type":"substring","index":0,"length":1}}""".stripMargin)
      == Set(1L, 4L))
    // strlen numeric bound: names >= 5 chars
    assert(idsJson(
      """{"type":"bound","dimension":"name","lower":"5","ordering":"numeric",
        |"extractionFn":{"type":"strlen"}}""".stripMargin) == Set(1L, 3L, 4L))
    // upper() + in
    assert(idsJson(
      """{"type":"in","dimension":"name","values":["BETA","GAMMA"],
        |"extractionFn":{"type":"upper"}}""".stripMargin) == Set(2L, 3L))
    // multi-value dim: extraction applies per value
    assert(idsJson(
      """{"type":"selector","dimension":"tags","value":"X",
        |"extractionFn":{"type":"upper"}}""".stripMargin) == Set(1L, 5L))
    val f = DimFilter.parse(
      """{"type":"selector","dimension":"name","value":"a",
        |"extractionFn":{"type":"substring","index":0,"length":1}}""".stripMargin)
    assert(f.referencedDims == Some(Set("name")))
  }

  test("referencedDims: structured filters name their columns; expression is unknown") {
    assert(DimFilter.parse(
      """{"type":"and","fields":[
        |{"type":"selector","dimension":"a","value":"x"},
        |{"type":"not","field":{"type":"bound","dimension":"b","lower":"1"}},
        |{"type":"or","fields":[
        |  {"type":"columnComparison","dimensions":["c","d"]},
        |  {"type":"search","dimension":"e","query":{"type":"contains","value":"q"}}]}
        |]}""".stripMargin).referencedDims == Some(Set("a", "b", "c", "d", "e")))
    assert(DimFilter.parse(
      """{"type":"expression","expression":"a > 1"}""").referencedDims.isEmpty)
    // unknown anywhere in the tree poisons the whole answer — a partial
    // set would under-prune-proof nothing and over-prune the decode
    assert(DimFilter.parse(
      """{"type":"and","fields":[
        |{"type":"selector","dimension":"a","value":"x"},
        |{"type":"expression","expression":"b > 1"}]}""".stripMargin)
      .referencedDims.isEmpty)
  }
}
