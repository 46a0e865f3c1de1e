package graft

import graft.server.{GraftServer, Wire}
import graft.sources.Sources
import graft.util.{QueryTrace, SessionMemo}
import org.apache.spark.sql.SparkSession

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** End-to-end spec for the HTTP wire protocol: starts the real server
  * (ephemeral port) and drives it with the exact JSON the reference's
  * Python client emits (client.py:200-245) — the example_small flow
  * (client.py:249-256), plus join/order/group/take/count and the
  * protocol error surface.
  */
class GraftServerSpec extends SparkSpec {

  private lazy val server = {
    val s = GraftServer.start(spark, 0)
    sys.addShutdownHook(s.stop(0))
    s
  }
  private lazy val uri =
    URI.create(s"http://127.0.0.1:${server.getAddress.getPort}/call")
  private val http = HttpClient.newHttpClient()

  private def post(body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(uri)
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
      .build()
    val res = http.send(req, HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  /** POST, assert 201, return the response `dataframe` state JSON. */
  private def callOk(df: String, function: String,
                     send: String => (Int, String) = post): (String, String) = {
    val (status, body) = send(s"""{"dataframe": $df, "function": $function}""")
    assert(status === 201, s"expected 201, got $status: $body")
    val node = Wire.parse(body)
    (Wire.render(node.get("dataframe")), Wire.render(node.get("blocks")))
  }

  // headerless |-separated CSV like the reference's data/small.csv
  private lazy val csvPath = {
    val p = Files.createTempFile("graft_small", ".csv")
    Files.write(p, "1|foo|true\n2|bar|false\n3|baz|true\n"
      .getBytes(StandardCharsets.UTF_8))
    p.toAbsolutePath.toString
  }
  private val schemaJson =
    """{"columns": [{"name": "int", "type_": "Int"},
      |             {"name": "string", "type_": "String"},
      |             {"name": "bool", "type_": "Bool"}]}""".stripMargin

  private def readState: String =
    callOk("null", s"""{"Read": ["csv", "$csvPath", $schemaJson]}""")._1

  // client.py example_small: read → filter(bool == true) →
  // select([c('int')]) → aggregate({int: Average}) → collect
  test("wire: example_small flow (filter/select/aggregate/collect)") {
    val s1 = readState
    val s2 = callOk(s1,
      """{"Op": {"Filter": ["bool",
        |  {"comparator": "Equal", "value": {"Bool": true}}]}}""".stripMargin)._1
    val s3 = callOk(s2, """{"Op": {"Select": [{"Source": "int"}]}}""")._1
    val s4 = callOk(s3, """{"Op": {"Aggregation": {"int": "Average"}}}""")._1
    val (_, blocks) = callOk(s4, """{"Action": "Collect"}""")
    assert(Wire.parse(blocks).get("int").get("Float").get(0).asDouble() === 2.0)
  }

  test("wire: select arithmetic with alias, float constant encoding") {
    val s1 = readState
    // (int * 10).alias('tens') + the client's phantom float form
    val s2 = callOk(s1,
      """{"Op": {"Select": [
        |  {"Alias": ["tens", {"Operation": ["Multiply",
        |    {"Source": "int"}, {"Constant": {"Int": 10}}]}]},
        |  {"Alias": ["halves", {"Operation": ["Divide",
        |    {"Source": "int"},
        |    {"Constant": {"Float": {"value": 2.0, "phantom": null}}}]}]}
        |]}}""".stripMargin)._1
    val (_, blocks) = callOk(s2, """{"Action": "Collect"}""")
    val b = Wire.parse(blocks)
    assert(b.get("tens").get("Int").get(2).asLong() === 30L)
    assert(b.get("halves").get("Float").get(1).asDouble() === 1.0)
  }

  test("wire: group_by nests lists; order_by sorts") {
    val s1 = readState
    val s2 = callOk(s1, """{"Op": {"Select": [{"Source": "bool"}, {"Source": "int"}]}}""")._1
    val s3 = callOk(s2, """{"Op": {"GroupBy": ["bool"]}}""")._1
    val (_, blocks) = callOk(s3, """{"Action": "Collect"}""")
    val b = Wire.parse(blocks)
    assert(b.get("int").get("IntList").get(1).get(0).asLong() === 1L)
    val s4 = callOk(s2, """{"Op": {"OrderBy": ["int"]}}""")._1
    val (_, blocks2) = callOk(s4, """{"Action": "Count"}""")
    assert(Wire.parse(blocks2).get("count").get("Int").get(0).asLong() === 3L)
  }

  test("wire: join round-trips a right-side lineage; take limits") {
    val s1 = readState
    val right = callOk(s1,
      """{"Op": {"Select": [
        |  {"Alias": ["k", {"Operation": ["Add",
        |    {"Source": "int"}, {"Constant": {"Int": 0}}]}]},
        |  {"Alias": ["negated", {"Operation": ["Subtract",
        |    {"Constant": {"Int": 0}}, {"Source": "int"}]}]}]}}""".stripMargin)._1
    val joined = callOk(s1, s"""{"Op": {"Join": [$right, "int", "k"]}}""")._1
    val (_, blocks) = callOk(joined, """{"Action": {"Take": 2}}""")
    val b = Wire.parse(blocks)
    assert(b.get("negated").get("Int").get(0).asLong() === -1L)
    assert(b.get("int").get("Int").size() === 2)
  }

  test("wire: beyond-reference verbs — DedupExact, MinhashPairs, WindowTopK") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra"
    val p = Files.createTempFile("graft_dup", ".csv")
    Files.write(p,
      (s"1|$base tango\n" +          // rep of the near-dup pair
        s"2|$base tango\n" +         // exact dup of 1
        s"3|$base uniform\n" +       // near dup of 1 (jaccard ~0.89)
        "4|totally different words sharing nothing with the corpus\n")
        .getBytes(StandardCharsets.UTF_8))
    val dupSchema =
      """{"columns": [{"name": "id", "type_": "Int"},
        |             {"name": "text", "type_": "String"}]}""".stripMargin
    val s1 = callOk("null",
      s"""{"Read": ["csv", "${p.toAbsolutePath}", $dupSchema]}""")._1
    // dedup_exact keeps the lowest id per distinct content
    val reps = callOk(s1, """{"Op": {"DedupExact": ["id", "text"]}}""")._1
    val (_, cnt) = callOk(reps, """{"Action": "Count"}""")
    assert(Wire.parse(cnt).get("count").get("Int").get(0).asLong() === 3L)
    // composition on the wire: dedup → near-dup pairs
    val pairs = callOk(reps, """{"Op": {"MinhashPairs": ["id", "text", 0.5]}}""")._1
    val (_, pb) = callOk(pairs, """{"Action": "Collect"}""")
    val pn = Wire.parse(pb)
    assert(pn.get("id_a").get("Int").get(0).asLong() === 1L)
    assert(pn.get("id_b").get("Int").get(0).asLong() === 3L)
    assert(pn.get("jaccard").get("Float").get(0).asDouble() > 0.85)
    // window top-k: highest id per distinct text, rank appended
    val topk = callOk(s1, """{"Op": {"WindowTopK": ["text", "id", 1]}}""")._1
    val (_, tb) = callOk(topk, """{"Action": "Count"}""")
    assert(Wire.parse(tb).get("count").get("Int").get(0).asLong() === 3L)
    // validation: missing column is a plan-time 400
    assert(post(s"""{"dataframe": $s1, "function":
      {"Op": {"DedupExact": ["nope", "text"]}}}""")._1 === 400)
  }

  test("wire: SnapshotDiff verb diffs two read lineages") {
    val mk = (rows: String, tag: String) => {
      val p = Files.createTempFile(s"graft_snap_$tag", ".csv")
      Files.write(p, rows.getBytes(StandardCharsets.UTF_8))
      p.toAbsolutePath
    }
    val schema =
      """{"columns": [{"name": "id", "type_": "Int"},
        |             {"name": "text", "type_": "String"}]}""".stripMargin
    val oldP = mk("1|aaa\n2|bbb\n3|ccc\n", "old")
    val newP = mk("2|bbb\n3|ccc revised\n4|ddd\n", "new")
    val oldS = callOk("null", s"""{"Read": ["csv", "$oldP", $schema]}""")._1
    val newS = callOk("null", s"""{"Read": ["csv", "$newP", $schema]}""")._1
    // the new snapshot rides inside the verb as a full lineage state,
    // exactly like Join's right side
    val diff = callOk(oldS,
      s"""{"Op": {"SnapshotDiff": [$newS, "id", "text"]}}""")._1
    val (_, db) = callOk(diff, """{"Action": "Collect"}""")
    val d = Wire.parse(db)
    val changes = (0 until 3).map(i =>
      d.get("key").get("Int").get(i).asLong() ->
        d.get("change").get("String").get(i).asText()).toMap
    assert(changes === Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
    // missing key column in either side is a plan-time 400
    assert(post(s"""{"dataframe": $oldS, "function":
      {"Op": {"SnapshotDiff": [$newS, "nope", "text"]}}}""")._1 === 400)
  }

  test("wire: SemanticDecontam verb matches the operator exactly") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val empty = """{"columns": []}"""
    val all = callOk("null", s"""{"Read": ["parquet", "$emb", $empty]}""")._1
    val evalS = callOk(all,
      """{"Op": {"Filter": ["vec_id",
        |  {"comparator": "LessThan", "value": {"Int": 5}}]}}""".stripMargin)._1
    val trainS = callOk(all,
      """{"Op": {"Filter": ["vec_id",
        |  {"comparator": "GreaterThanOrEq", "value": {"Int": 5}}]}}""".stripMargin)._1
    val flagged = callOk(trainS,
      s"""{"Op": {"SemanticDecontam": [$evalS, "vec_id", "embedding", 0.3]}}""")._1
    val sorted = callOk(flagged, """{"Op": {"OrderBy": ["train_id"]}}""")._1
    val (_, blocks) = callOk(sorted, """{"Action": "Collect"}""")
    val got = Wire.parse(blocks)
    // ground truth straight from the operator on the same parquet
    val df = spark.read.parquet(emb)
    val want = graft.operators.Similarity.semanticDecontaminate(
        df.filter(org.apache.spark.sql.functions.col("vec_id") >= 5),
        df.filter(org.apache.spark.sql.functions.col("vec_id") < 5),
        "vec_id", "vec_id", "embedding", "embedding", tau = 0.3)
      .orderBy("train_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val n = got.get("train_id").get("Int").size()
    assert(n === want.length && n > 0)
    (0 until n).foreach { i =>
      assert(got.get("train_id").get("Int").get(i).asLong() === want(i)._1)
      assert(got.get("eval_id").get("Int").get(i).asLong() === want(i)._2)
      assert(math.abs(got.get("cosine").get("Float").get(i).asDouble()
        - want(i)._3) < 1e-12)
    }
    // vectors never ship: missing column is a plan-time 400
    assert(post(s"""{"dataframe": $trainS, "function":
      {"Op": {"SemanticDecontam": [$evalS, "nope", "embedding", 0.3]}}}""")._1 === 400)
  }

  test("wire: protocol and plan errors are 400 with a message") {
    // malformed JSON
    assert(post("{nope")._1 === 400)
    // unaliased computed expr → the facade's AliasRequired, as 400
    val s1 = readState
    val (st, body) = post(s"""{"dataframe": $s1, "function":
      {"Op": {"Select": [{"Operation": ["Add",
        {"Source": "int"}, {"Source": "int"}]}]}}}""")
    assert(st === 400)
    assert(body.contains("AliasRequired"))
    // missing dataframe for an Op
    assert(post("""{"dataframe": null, "function":
      {"Op": {"OrderBy": ["int"]}}}""")._1 === 400)
    // unknown column at plan-build time
    assert(post(s"""{"dataframe": $s1, "function":
      {"Op": {"Filter": ["nope",
        {"comparator": "Equal", "value": {"Int": 1}}]}}}""")._1 === 400)
    // non-POST and wrong path
    val get = HttpRequest.newBuilder(uri).GET().build()
    assert(http.send(get, HttpResponse.BodyHandlers.ofString()).statusCode() === 404)
  }

  test("wire: CollectPage slices; a row-capped server rejects big Collects") {
    // paging on the default (uncapped) server: ordered pages stitch
    val s1 = readState
    val so = callOk(s1, """{"Op": {"OrderBy": ["int"]}}""")._1
    val (_, p1) = callOk(so,
      """{"Action": {"CollectPage": {"offset": 0, "limit": 2}}}""")
    val (_, p2) = callOk(so,
      """{"Action": {"CollectPage": {"offset": 2, "limit": 2}}}""")
    assert(Wire.parse(p1).get("int").get("Int").get(0).asInt() === 1)
    assert(Wire.parse(p1).get("int").get("Int").get(1).asInt() === 2)
    assert(Wire.parse(p2).get("int").get("Int").get(0).asInt() === 3)
    assert(Wire.parse(p2).get("int").get("Int").size() === 1)
    // malformed page spec is a 400
    assert(post(s"""{"dataframe": $so, "function":
      {"Action": {"CollectPage": {"offset": -1, "limit": 2}}}}""")._1 === 400)
    // offset/limit beyond Int.MaxValue are a 400 validation error, not
    // an Int-wrap 500 / silently wrong page (they feed Dataset
    // offset()/limit(), which take Int)
    val (bigOffSt, bigOffBody) = post(s"""{"dataframe": $so, "function":
      {"Action": {"CollectPage": {"offset": 2147483648, "limit": 2}}}}""")
    assert(bigOffSt === 400, bigOffBody)
    assert(bigOffBody.contains("Int.MaxValue"))
    assert(post(s"""{"dataframe": $so, "function":
      {"Action": {"CollectPage": {"offset": 0, "limit": 9999999999}}}}""")._1 === 400)

    // a CAPPED server (cap = 2): big Collect → 400 naming the cap and
    // pointing at CollectPage; within-cap Collect and paging still work
    val capped = GraftServer.start(spark, 0, Some(2L))
    try {
      val curi = URI.create(
        s"http://127.0.0.1:${capped.getAddress.getPort}/call")
      def cpost(body: String): (Int, String) = {
        val req = HttpRequest.newBuilder(curi)
          .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
          .build()
        val res = http.send(req, HttpResponse.BodyHandlers.ofString())
        (res.statusCode(), res.body())
      }
      val (rs, rb) = cpost(s"""{"dataframe": null, "function":
        {"Read": ["csv", "$csvPath", $schemaJson]}}""")
      assert(rs === 201, rb)
      val state = Wire.render(Wire.parse(rb).get("dataframe"))
      val (bigSt, bigBody) = cpost(
        s"""{"dataframe": $state, "function": {"Action": "Collect"}}""")
      assert(bigSt === 400, s"3-row Collect must exceed cap 2: $bigBody")
      assert(bigBody.contains("row cap (2)") && bigBody.contains("CollectPage"))
      // page limit above the cap is also rejected
      assert(cpost(s"""{"dataframe": $state, "function":
        {"Action": {"CollectPage": {"offset": 0, "limit": 5}}}}""")._1 === 400)
      // a within-cap page succeeds
      val (ps, pb) = cpost(s"""{"dataframe": $state, "function":
        {"Action": {"CollectPage": {"offset": 0, "limit": 2}}}}""")
      assert(ps === 201, pb)
      assert(Wire.parse(pb).get("blocks").get("int").get("Int").size() === 2)
      // Take under the cap still collects (reference semantics kept)
      val (ts, tb) = cpost(s"""{"dataframe": $state, "function":
        {"Action": {"Take": 2}}}""")
      assert(ts === 201, tb)
    } finally capped.stop(0)
  }

  test("wire: Take on an unprojected parquet frame encodes timestamps as ISO-8601 strings") {
    val li = s"$sf/lineitem.parquet"
    val s1 = readParquet(li)
    val (status, body) = post(s"""{"dataframe": $s1, "function": {"Action": {"Take": 20}}}""")
    assert(status === 201, body)
    val ship = Wire.parse(body).get("blocks").get("l_shipdate").get("String")
    assert(ship.size() === 20)
    val want = spark.read.parquet(li).limit(20).collect()
      .map(_.getAs[java.time.LocalDateTime]("l_shipdate"))
    (0 until 20).foreach { i =>
      val text = ship.get(i).asText()
      assert(text.matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?"""), text)
      assert(java.time.LocalDateTime.parse(text) === want(i))
    }
    // GroupBy nests the timestamps into string lists
    val g = callOk(s1, """{"Op": {"GroupBy": ["l_returnflag"]}}""")._1
    val lists = Wire.parse(callOk(g, """{"Action": "Collect"}""")._2)
      .get("l_shipdate").get("StringList")
    assert(lists.size() === 3 && lists.get(0).size() > 0)
    java.time.LocalDateTime.parse(lists.get(0).get(0).asText())
  }

  // ---- parquet schema memo: plan-building requests run no Spark job ----

  /** Spark jobs started while `body` runs, counted by `QueryTrace`. The
    * trace charges jobs by thread, and the HTTP server's request threads
    * were not started by `body`, so a body whose jobs must be counted
    * answers its requests on the calling thread (`handled`), as the
    * server's handler does. */
  private def jobsDuring(body: => Unit): Int =
    QueryTrace.traced(spark, "spec")(body) match {
      case (Right(_), rec) => rec.jobs.toInt
      case (Left(e), _) => throw e
    }

  /** One request answered on the calling thread. */
  private def handled(body: String): (Int, String) = handleJson(spark, body)

  private def tempDir(tag: String): String =
    Files.createTempDirectory(s"graft_$tag").resolve("t.parquet").toString

  private def readParquet(path: String, send: String => (Int, String) = post): String =
    callOk("null", s"""{"Read": ["parquet", "$path", {"columns": []}]}""", send)._1

  test("memo: after the first Read, Read → Filter → Select → Join → Aggregation runs no Spark job") {
    val facts = tempDir("facts")
    spark.range(0, 100).selectExpr("id", "id % 5 AS k", "CAST(id AS DOUBLE) * 1.5 AS v")
      .write.parquet(facts)
    val dims = tempDir("dims")
    spark.range(0, 5).selectExpr("id AS k2", "concat('n', CAST(id AS STRING)) AS name")
      .write.parquet(dims)
    readParquet(facts)
    val dimState = readParquet(dims)
    var last = ""
    val n = jobsDuring {
      val s1 = readParquet(facts, handled)
      val s2 = callOk(s1, """{"Op": {"Filter": ["k",
        |  {"comparator": "GreaterThan", "value": {"Int": 0}}]}}""".stripMargin, handled)._1
      val s3 = callOk(s2, """{"Op": {"Select": [{"Source": "k"}, {"Source": "v"}]}}""", handled)._1
      val s4 = callOk(s3, s"""{"Op": {"Join": [$dimState, "k", "k2"]}}""", handled)._1
      last = callOk(s4, """{"Op": {"Aggregation":
        |  {"k": "Count", "v": "Sum", "k2": "Max", "name": "First"}}}""".stripMargin, handled)._1
    }
    assert(n === 0, s"$n Spark job(s) while building plans")
    // the memoized schemas still give the right answer
    val b = Wire.parse(callOk(last, """{"Action": "Collect"}""")._2)
    assert(b.get("k").get("Int").get(0).asLong() === 80L)
    val wantSum = (0 until 100).filter(_ % 5 > 0).map(_ * 1.5).sum
    assert(b.get("v").get("Float").get(0).asDouble() === wantSum)
  }

  test("memo: overwriting the parquet directory with an added column is seen by the next Read") {
    val p = tempDir("rewrite")
    spark.range(0, 10).selectExpr("id").write.parquet(p)
    val first = readParquet(p)
    assert(post(s"""{"dataframe": $first, "function":
      {"Op": {"Select": [{"Source": "extra"}]}}}""")._1 === 400)
    spark.range(0, 10).selectExpr("id", "id * 2 AS extra").write.mode("overwrite").parquet(p)
    val s2 = callOk(readParquet(p), """{"Op": {"Select": [{"Source": "extra"}]}}""")._1
    val (_, blocks) = callOk(s2, """{"Action": "Count"}""")
    assert(Wire.parse(blocks).get("count").get("Int").get(0).asLong() === 10L)
  }

  test("memo: a new SparkSession infers the schema again") {
    val p = tempDir("session")
    spark.range(0, 10).selectExpr("id").write.parquet(p)
    val read = Wire.parse(s"""{"dataframe": null, "function":
      {"Read": ["parquet", "$p", {"columns": []}]}}""")
    assert(GraftServer.handle(spark, read)._1 === 201)
    assert(jobsDuring(assert(GraftServer.handle(spark, read)._1 === 201)) === 0)
    val other = spark.newSession()
    assert(jobsDuring(assert(GraftServer.handle(other, read)._1 === 201)) > 0)
    assert(jobsDuring(assert(GraftServer.handle(other, read)._1 === 201)) === 0)
  }

  test("memo: a missing parquet path is a 400, before and after it was read") {
    val (st, body) = post(s"""{"dataframe": null, "function":
      {"Read": ["parquet", "/nonexistent/graft/none.parquet", {"columns": []}]}}""")
    assert(st === 400, body)
    val p = tempDir("gone")
    spark.range(0, 3).selectExpr("id").write.parquet(p)
    val s1 = readParquet(p)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
    val (st2, body2) = post(s"""{"dataframe": null, "function":
      {"Read": ["parquet", "$p", {"columns": []}]}}""")
    assert(st2 === 400, body2)
    assert(post(s"""{"dataframe": $s1, "function": {"Action": "Count"}}""")._1 === 400)
  }

  test("memo: hive-partitioned and glob paths give plain spark.read.parquet's schema and rows") {
    val part = tempDir("hive")
    spark.range(0, 40).selectExpr("id", "CAST(id % 3 AS INT) AS bucket", "id * 0.5 AS x")
      .write.partitionBy("bucket").parquet(part)
    val flat = tempDir("glob")
    spark.range(0, 40).selectExpr("id", "id * 0.5 AS x").repartition(3).write.parquet(flat)
    Seq(part, s"$part/bucket=1", s"$flat/part-*.parquet").foreach { path =>
      val want = spark.read.parquet(path)
      Sources.parquet(spark, path)
      var hit: org.apache.spark.sql.DataFrame = null
      assert(jobsDuring { hit = Sources.parquet(spark, path).df } === 0, path)
      assert(hit.schema === want.schema, path)
      val rows = (df: org.apache.spark.sql.DataFrame) => df.collect().map(_.toString).sorted.toSeq
      assert(rows(hit) === rows(want), path)
    }
  }

  // ---- reply pool: an Action asked again over unchanged inputs ----

  private def handleJson(session: SparkSession, body: String,
                         cap: Option[Long] = None): (Int, String) =
    GraftServer.handle(session, Wire.parse(body), cap)

  private def poolStats(session: SparkSession) =
    SessionMemo.stats(session).getOrElse("serverReplies", SessionMemo.Stats(0, 0, 0.0))

  private def action(state: String, act: String): String =
    s"""{"dataframe": $state, "function": {"Action": $act}}"""

  private def tempCsv(tag: String, rows: String): java.nio.file.Path = {
    val p = Files.createTempFile(s"graft_$tag", ".csv")
    Files.write(p, rows.getBytes(StandardCharsets.UTF_8))
    p
  }

  private def readCsv(path: java.nio.file.Path, send: String => (Int, String) = post): String =
    callOk("null", s"""{"Read": ["csv", "${path.toAbsolutePath}", $schemaJson]}""", send)._1

  test("pool: a repeated Action runs no Spark job and returns a byte-identical reply") {
    val facts = tempDir("pool_repeat")
    spark.range(0, 100).selectExpr("id", "id % 5 AS k", "CAST(id AS DOUBLE) * 1.5 AS v")
      .write.parquet(facts)
    val s1 = readParquet(facts)
    val s2 = callOk(s1, """{"Op": {"GroupBy": ["k"]}}""")._1
    val s3 = callOk(s2, """{"Op": {"Aggregation": {"v": "Sum", "id": "Count"}}}""")._1
    val s4 = callOk(s3, """{"Op": {"OrderBy": ["k"]}}""")._1
    val first = post(action(s4, "\"Collect\""))
    assert(first._1 === 201, first._2)
    val before = poolStats(spark)
    var again: (Int, String) = null
    assert(jobsDuring { again = handled(action(s4, "\"Collect\"")) } === 0)
    assert(again === first)
    val after = poolStats(spark)
    assert(after.hits === before.hits + 1 && after.builds === before.builds, after)
    val b = Wire.parse(first._2).get("blocks")
    assert(b.get("k").get("Int").toString === "[0,1,2,3,4]")
  }

  test("pool: a rewritten parquet directory and a rewritten CSV file each give the new answer") {
    val p = tempDir("pool_rewrite")
    spark.range(0, 10).selectExpr("id").write.parquet(p)
    val sp = readParquet(p)
    def count(state: String) = {
      val (st, body) = post(action(state, "\"Count\""))
      assert(st === 201, body)
      Wire.parse(body).get("blocks").get("count").get("Int").get(0).asLong()
    }
    assert(count(sp) === 10L && count(sp) === 10L)
    spark.range(0, 25).selectExpr("id").write.mode("overwrite").parquet(p)
    assert(count(sp) === 25L)

    val csv = tempCsv("pool_rewrite", "1|a|true\n2|b|false\n")
    val sc = callOk(readCsv(csv), """{"Op": {"OrderBy": ["int"]}}""")._1
    def ints(state: String) =
      Wire.parse(post(action(state, "\"Collect\""))._2).get("blocks").get("int").toString
    assert(ints(sc) === """{"Int":[1,2]}""" && ints(sc) === """{"Int":[1,2]}""")
    Files.write(csv, "1|a|true\n2|b|false\n3|c|true\n".getBytes(StandardCharsets.UTF_8))
    assert(ints(sc) === """{"Int":[1,2,3]}""")
  }

  test("pool: a new SparkSession misses") {
    val csv = tempCsv("pool_session", "5|e|true\n6|f|false\n")
    val req = action(readCsv(csv), "\"Count\"")
    assert(handleJson(spark, req)._1 === 201)
    assert(jobsDuring(assert(handleJson(spark, req)._1 === 201)) === 0)
    val other = spark.newSession()
    assert(jobsDuring(assert(handleJson(other, req) === handleJson(spark, req))) > 0)
    assert(poolStats(other).builds === 1 && poolStats(other).hits === 0)
  }

  test("lifecycle: a JVM that serves a request, then stops the server and its session, exits") {
    // the server's idle request threads must not hold the JVM open; the
    // check runs in a JVM of its own, which must exit within the deadline
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx1g", "-cp",
      System.getProperty("java.class.path"), "graft.ServerExitCheck")
    val log = Files.createTempFile("graft_exit", ".log")
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .redirectOutput(log.toFile).start()
    val exited = proc.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)
    if (!exited) proc.destroyForcibly().waitFor()
    val out = Files.readAllLines(log).asScala
    assert(out.contains("served=201"), out.takeRight(40).mkString("\n"))
    assert(exited, "the JVM did not exit within 120 s of starting")
    assert(proc.exitValue === 0, out.takeRight(40).mkString("\n"))
  }

  test("pool: 8 concurrent identical Actions compute once") {
    val csv = tempCsv("pool_concurrent", (1 to 50).map(i => s"$i|s$i|true").mkString("", "\n", "\n"))
    val req = action(callOk(readCsv(csv), """{"Op": {"Aggregation":
      |  {"int": "Sum", "string": "Max", "bool": "Count"}}}""".stripMargin)._1, "\"Collect\"")
    val before = poolStats(spark)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val got = try {
      val calls = (1 to 8).map(_ => pool.submit(new java.util.concurrent.Callable[(Int, String)] {
        def call(): (Int, String) = { start.await(); post(req) }
      }))
      start.countDown()
      calls.map(_.get(2, java.util.concurrent.TimeUnit.MINUTES))
    } finally pool.shutdown()
    assert(got.forall(_ === got.head) && got.head._1 === 201, got.head)
    val after = poolStats(spark)
    assert(after.builds - before.builds === 1, after)
    assert(after.hits - before.hits === 7, after)
  }

  test("pool: an over-cap Collect stays a 400, and capped and uncapped servers share no entry") {
    val csv = tempCsv("pool_cap", "1|a|true\n2|b|false\n3|c|true\n")
    val st = readCsv(csv)
    val collect = action(st, "\"Collect\"")
    val page = action(st, """{"CollectPage": {"offset": 0, "limit": 2}}""")
    val before = poolStats(spark)
    (1 to 2).foreach { _ =>
      val (code, body) = handleJson(spark, collect, Some(2L))
      assert(code === 400 && body.contains("row cap (2)"), body)
    }
    assert(handleJson(spark, collect)._1 === 201)
    assert(poolStats(spark).builds === before.builds + 3 && poolStats(spark).hits === before.hits)
    // the same page under each cap: one build each, then one hit each
    val capped = handleJson(spark, page, Some(2L))
    val uncapped = handleJson(spark, page)
    assert(capped._1 === 201 && capped === uncapped)
    assert(poolStats(spark).builds === before.builds + 5)
    assert(handleJson(spark, page, Some(2L)) === capped && handleJson(spark, page) === uncapped)
    assert(poolStats(spark).builds === before.builds + 5 && poolStats(spark).hits === before.hits + 2)
  }

  // ---- frame pool: each request analyzes only its own entry ----

  private def frameStats(session: SparkSession = spark) =
    SessionMemo.stats(session).getOrElse("serverFrames", SessionMemo.Stats(0, 0, 0.0))

  private def schemaCalls(session: SparkSession = spark) = {
    val st = SessionMemo.stats(session).getOrElse("parquetSchemas", SessionMemo.Stats(0, 0, 0.0))
    st.builds + st.hits
  }

  private def countOf(reply: String): Long =
    Wire.parse(reply).get("count").get("Int").get(0).asLong()

  test("frames: a fresh session of a Read, k Ops and an Action makes k+1 builds and k+1 hits, and replays no earlier entry") {
    val p = tempDir("frames_session")
    spark.range(0, 100).selectExpr("id", "id % 5 AS k", "CAST(id AS DOUBLE) * 1.5 AS v")
      .write.parquet(p)
    val ops = Seq(
      """{"Filter": ["k", {"comparator": "GreaterThan", "value": {"Int": 0}}]}""",
      """{"Select": [{"Source": "id"}, {"Source": "k"}]}""",
      """{"Filter": ["id", {"comparator": "LessThan", "value": {"Int": 50}}]}""",
      """{"OrderBy": ["id"]}""")
    val (before, opened) = (frameStats(), schemaCalls())
    val last = ops.foldLeft(readParquet(p, handled)) { (state, op) =>
      callOk(state, s"""{"Op": $op}""", handled)._1
    }
    val (_, blocks) = callOk(last, """{"Action": "Count"}""", handled)
    assert(countOf(blocks) === 40L)
    val after = frameStats()
    val k = ops.size
    assert(after.builds - before.builds === k + 1, after)
    assert(after.hits - before.hits === k + 1, after)
    // only the Read opened the parquet source: no request replayed it
    assert(schemaCalls() - opened === 1)
  }

  test("frames: a parquet directory, a CSV file and a glob Read changed between two Ops of one session are seen") {
    val filter = """{"Op": {"Filter": ["id", {"comparator": "GreaterThanOrEq", "value": {"Int": 0}}]}}"""
    val select = """{"Op": {"Select": [{"Source": "id"}]}}"""
    def count(state: String) = countOf(callOk(state, """{"Action": "Count"}""")._2)

    val p = tempDir("frames_rewrite")
    spark.range(0, 10).selectExpr("id").write.parquet(p)
    val s2 = callOk(readParquet(p), filter)._1
    assert(count(s2) === 10L)
    spark.range(0, 25).selectExpr("id").write.mode("overwrite").parquet(p)
    assert(count(callOk(s2, select)._1) === 25L)

    val csv = tempCsv("frames_rewrite", "1|a|true\n2|b|false\n")
    val c2 = callOk(readCsv(csv), """{"Op": {"OrderBy": ["int"]}}""")._1
    assert(count(c2) === 2L)
    Files.write(csv, "1|a|true\n2|b|false\n3|c|true\n".getBytes(StandardCharsets.UTF_8))
    val c3 = callOk(c2, """{"Op": {"Select": [{"Source": "int"}]}}""")._1
    assert(Wire.parse(callOk(c3, """{"Action": "Collect"}""")._2).get("int").toString ===
      """{"Int":[1,2,3]}""")

    val dir = Files.createTempDirectory("graft_frames_glob")
    spark.range(0, 10).selectExpr("id").coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val part = Files.list(dir).iterator().asScala.find(_.getFileName.toString.startsWith("part-")).get
    val g2 = callOk(readParquet(s"$dir/part-*.parquet"), filter)._1
    assert(count(g2) === 10L)
    Files.copy(part, dir.resolve("part-copy.parquet"))
    assert(count(callOk(g2, select)._1) === 20L)
  }

  test("frames: a second Read of an unchanged parquet path or CSV is one hit: no frame built, no source opened, no Spark job") {
    val p = tempDir("frames_reread")
    spark.range(0, 10).selectExpr("id").write.parquet(p)
    val csv = tempCsv("frames_reread", "1|a|true\n2|b|false\n")
    Seq(() => readParquet(p, handled), () => readCsv(csv, handled)).foreach { read =>
      val first = read()
      val (before, opened) = (frameStats(), schemaCalls())
      var again = ""
      assert(jobsDuring { again = read() } === 0)
      val after = frameStats()
      assert((after.builds - before.builds, after.hits - before.hits) === (0L, 1L), after)
      assert(schemaCalls() === opened)
      assert(again === first)
    }
  }

  test("frames: a Read of a parquet directory with an added column, a CSV with new rows, or a glob with a new match is replayed") {
    def count(state: String) = countOf(callOk(state, """{"Action": "Count"}""")._2)
    def reread(read: => String): String = {
      val before = frameStats()
      val state = read
      val after = frameStats()
      assert((after.builds - before.builds, after.hits - before.hits) === (1L, 0L), after)
      state
    }

    val p = tempDir("frames_reread_rewrite")
    spark.range(0, 10).selectExpr("id").write.parquet(p)
    assert(count(readParquet(p)) === 10L)
    spark.range(0, 12).selectExpr("id", "id * 2 AS extra").write.mode("overwrite").parquet(p)
    val extra = callOk(reread(readParquet(p)), """{"Op": {"Select": [{"Source": "extra"}]}}""")._1
    assert(count(extra) === 12L)

    val csv = tempCsv("frames_reread_rewrite", "1|a|true\n2|b|false\n")
    assert(count(readCsv(csv)) === 2L)
    Files.write(csv, "1|a|true\n2|b|false\n3|c|true\n".getBytes(StandardCharsets.UTF_8))
    assert(count(reread(readCsv(csv))) === 3L)

    val dir = Files.createTempDirectory("graft_frames_reread_glob")
    spark.range(0, 10).selectExpr("id").coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val part = Files.list(dir).iterator().asScala.find(_.getFileName.toString.startsWith("part-")).get
    assert(count(readParquet(s"$dir/part-*.parquet")) === 10L)
    Files.copy(part, dir.resolve("part-copy.parquet"))
    assert(count(reread(readParquet(s"$dir/part-*.parquet"))) === 20L)
  }

  test("frames: 8 threads Op-ing and Acting on one pooled prefix get byte-identical replies") {
    val p = tempDir("frames_threads")
    spark.range(0, 200).selectExpr("id", "id % 7 AS k", "CAST(id AS DOUBLE) * 0.5 AS v")
      .write.parquet(p)
    val prefix = callOk(callOk(readParquet(p), """{"Op": {"Filter": ["k",
      |  {"comparator": "LessThan", "value": {"Int": 5}}]}}""".stripMargin)._1,
      """{"Op": {"OrderBy": ["id"]}}""")._1
    val op = s"""{"dataframe": $prefix, "function": {"Op": {"Select": [{"Source": "id"},
      |  {"Alias": ["w", {"Operation": ["Multiply", {"Source": "v"}, {"Source": "k"}]}]}]}}}""".stripMargin
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val got = try {
      val calls = (1 to 8).map(i => pool.submit(new java.util.concurrent.Callable[(String, String)] {
        def call(): (String, String) = {
          start.await()
          val (st, body) = handleJson(spark, op)
          assert(st === 201, body)
          val state = Wire.render(Wire.parse(body).get("dataframe"))
          // each thread its own row cap: 8 reply-pool keys, so 8 Actions
          // execute at once over the one pooled prefix
          val (ast, reply) = handleJson(spark,
            action(state, """{"CollectPage": {"offset": 0, "limit": 1000}}"""), Some(1000L + i))
          assert(ast === 201, reply)
          (body, reply)
        }
      }))
      start.countDown()
      calls.map(_.get(2, java.util.concurrent.TimeUnit.MINUTES))
    } finally pool.shutdown()
    assert(got.forall(_ === got.head))
    val ids = Wire.parse(got.head._2).get("blocks").get("id").get("Int")
    assert(ids.size() === (0 until 200).count(_ % 7 < 5))
  }

  test("frames: a checkpointed frame and a List-column aggregation frame are not pooled; a DedupExact frame is") {
    // ConnectedComponents cuts its loop with a checkpoint, so its frame has
    // no fingerprint; a List column's Sum is an interpreted lambda.
    // DedupExact is a plan over the files (a semi join), so it is pooled.
    val edges = tempCsv("frames_edges", "1|2\n2|3\n7|8\n")
    val edgeSchema = """{"columns": [{"name": "a", "type_": "Int"}, {"name": "b", "type_": "Int"}]}"""
    val cc = callOk(callOk("null", s"""{"Read": ["csv", "${edges.toAbsolutePath}", $edgeSchema]}""")._1,
      """{"Op": {"ConnectedComponents": ["a", "b"]}}""")._1
    val base = "alpha bravo charlie delta echo"
    val read = readCsv(tempCsv("frames_unpooled", s"1|$base|true\n2|$base|false\n3|other words|true\n"))
    val grouped = callOk(callOk(read, """{"Op": {"GroupBy": ["bool"]}}""")._1,
      """{"Op": {"Aggregation": {"int": "Sum", "string": "Count"}}}""")._1
    val dedup = callOk(read, """{"Op": {"DedupExact": ["int", "string"]}}""")._1
    def lookups(state: String, rows: Long) = {
      val before = frameStats()
      assert(countOf(callOk(state, """{"Action": "Count"}""")._2) === rows)
      val after = frameStats()
      (after.builds - before.builds, after.hits - before.hits)
    }
    Seq(cc -> 5L, grouped -> 2L).foreach { case (state, rows) =>
      // looked up and not found: replayed from the files every time
      assert(lookups(state, rows) === (1L, 0L))
      assert(lookups(state, rows) === (1L, 0L))
    }
    assert(lookups(dedup, 2L) === (0L, 1L))
  }

  test("frames: the pool evicts its oldest frame at the bound") {
    val session = spark.newSession()
    val csv = tempCsv("frames_bound", "1|a|true\n2|b|false\n")
    def ok(state: String, fn: String) = {
      val (st, body) = handleJson(session, s"""{"dataframe": $state, "function": $fn}""")
      assert(st === 201, body)
      Wire.render(Wire.parse(body).get("dataframe"))
    }
    val read = ok("null", s"""{"Read": ["csv", "${csv.toAbsolutePath}", $schemaJson]}""")
    def filtered(i: Long) = ok(read,
      s"""{"Op": {"Filter": ["int", {"comparator": "LessThan", "value": {"Int": $i}}]}}""")
    val oldest = filtered(0)
    (1L until GraftServer.FrameBudget - 1).foreach(filtered)
    // the pool is full: the Read, then FrameBudget - 1 filters
    def looked(state: String) = {
      val before = frameStats(session)
      ok(state, """{"Action": "Count"}""")
      val after = frameStats(session)
      (after.builds - before.builds, after.hits - before.hits)
    }
    assert(looked(oldest) === (0L, 1L))
    filtered(GraftServer.FrameBudget - 1) // one more: the Read, the oldest, leaves
    assert(looked(oldest) === (0L, 1L))
    assert(looked(read) === (1L, 0L))
  }
}

/** Starts the server, serves one request, stops the server and the
  * session, and returns from `main`: the JVM must then exit by itself. */
object ServerExitCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val server = GraftServer.start(spark, 0)
    val csv = Files.createTempFile("graft_exit", ".csv")
    Files.write(csv, "1\n2\n".getBytes(StandardCharsets.UTF_8))
    val body = s"""{"dataframe": null, "function": {"Read": ["csv", "$csv",
      |  {"columns": [{"name": "int", "type_": "Int"}]}]}}""".stripMargin
    val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${server.getAddress.getPort}/call"))
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8)).build()
    val res = HttpClient.newHttpClient().send(req, HttpResponse.BodyHandlers.ofString())
    println(s"served=${res.statusCode()}")
    server.stop(0)
    spark.stop()
  }
}
