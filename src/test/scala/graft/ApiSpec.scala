package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.server.{Codec, GraftServer}

/** End-to-end HTTP tests porting the reference's API suite
  * (reference: test/test_api.py): store/query round trips, negotiation,
  * headers, status codes, eviction, statistics, compression. */
class ApiSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  var server: GraftServer = _
  val client: HttpClient = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    server = new GraftServer(spark, 0)
    server.start()
  }
  override def afterAll(): Unit = if (server != null) server.stop()

  def base: String = s"http://localhost:${server.boundPort}/qcache"

  def req(path: String, server: GraftServer = server): HttpRequest.Builder =
    HttpRequest.newBuilder(URI.create(
      s"http://localhost:${server.boundPort}/qcache$path"))

  def send(r: HttpRequest): HttpResponse[String] =
    client.send(r, BodyHandlers.ofString())

  def sendBytes(r: HttpRequest): HttpResponse[Array[Byte]] =
    client.send(r, BodyHandlers.ofByteArray())

  def storeCsv(key: String, csv: String, headers: (String, String)* ): HttpResponse[String] = {
    var b = req(s"/dataset/$key").POST(BodyPublishers.ofString(csv))
      .header("Content-Type", "text/csv")
    headers.foreach { case (k, v) => b = b.header(k, v) }
    send(b.build())
  }

  def query(key: String, q: String, accept: String = "application/json"): HttpResponse[String] =
    send(req(s"/dataset/$key?q=" +
      java.net.URLEncoder.encode(q, UTF_8)).GET().header("Accept", accept).build())

  val csvData = "foo,bar\n1,aaa\n2,bbb\n3,ccc\n"

  test("shape warmup: second same-schema dataset's first contact is pre-memoized") {
    graft.server.ShapeWarmer.clear()
    assert(storeCsv("warm_a", "p,q\n1,x\n2,y\n3,x\n").statusCode() == 201)
    val shape = """{"select": ["q", ["sum", "p"]], "group_by": ["q"]}"""
    assert(query("warm_a", shape).statusCode() == 200)
    // a same-schema store replays the recorded shape in the background,
    // through the same per-item memo the query path consults
    assert(storeCsv("warm_b", "p,q\n7,x\n8,y\n").statusCode() == 201)
    graft.server.ShapeWarmer.drain()
    val key = graft.server.ShapeWarmer.memoKey(Seq.empty, shape)
    assert(server.cache.peek("warm_b").get.memoizedKeys.contains(key),
      "known shape must be pre-planned on the new same-schema dataset")
    // a different-schema store inherits nothing
    assert(storeCsv("warm_c", "z\n1\n").statusCode() == 201)
    graft.server.ShapeWarmer.drain()
    assert(server.cache.peek("warm_c").get.memoizedKeys.isEmpty)
    // and the pre-warmed plan serves the real first query correctly
    val r2 = query("warm_b", shape)
    assert(r2.statusCode() == 200)
    assert(r2.body() == """[{"q":"x","p":7},{"q":"y","p":8}]""")
  }

  test("shape warmup replays stand-in headers under the same memo key") {
    graft.server.ShapeWarmer.clear()
    assert(storeCsv("warm_s1", "a\n1\n2\n").statusCode() == 201)
    val q = """{"select": ["a", "extra"]}"""
    val r = send(req("/dataset/warm_s1?q=" +
        java.net.URLEncoder.encode(q, UTF_8)).GET()
      .header("Accept", "application/json")
      .header("X-QCache-stand-in-columns", "extra=9").build())
    assert(r.statusCode() == 200)
    assert(storeCsv("warm_s2", "a\n5\n").statusCode() == 201)
    graft.server.ShapeWarmer.drain()
    val key = graft.server.ShapeWarmer.memoKey(Seq("extra" -> "9"), q)
    assert(server.cache.peek("warm_s2").get.memoizedKeys.contains(key),
      "stand-in shape must pre-plan on the new dataset under the read path's key")
  }

  test("shape warmup replays a stand-in VALUE containing the key separator") {
    // the memo key joins stand-ins with ';'/'='/'|' — but the warmer must
    // replay from the PARSED pairs, not re-parse the key: a value holding
    // '|' (legal: the header splits only on ';' and '=') would truncate,
    // and the wrong plan would be memoized under the RIGHT key, silently
    // serving bad rows to the first real query
    graft.server.ShapeWarmer.clear()
    assert(storeCsv("warm_v1", "a\n1\n").statusCode() == 201)
    val q = """{"select": ["a", "extra"]}"""
    def qWith(key: String) = send(req(s"/dataset/$key?q=" +
        java.net.URLEncoder.encode(q, UTF_8)).GET()
      .header("Accept", "application/json")
      .header("X-QCache-stand-in-columns", "extra=x|y").build())
    assert(qWith("warm_v1").statusCode() == 200)
    assert(storeCsv("warm_v2", "a\n5\n").statusCode() == 201)
    graft.server.ShapeWarmer.drain()
    val key = graft.server.ShapeWarmer.memoKey(Seq("extra" -> "x|y"), q)
    assert(server.cache.peek("warm_v2").get.memoizedKeys.contains(key))
    val r = qWith("warm_v2") // memo hit — must carry the FULL value
    assert(r.statusCode() == 200)
    assert(r.body() == """[{"a":5,"extra":"x|y"}]""")
  }

  test("max-result-rows guard: overflow is 413, within-bound dumps stay complete") {
    // guard OFF on the shared server (reference parity: full dumps);
    // a dedicated guarded server exercises the 413 posture
    val guarded = new graft.server.GraftServer(spark, 0, maxResultRows = 2L)
    guarded.start()
    try {
      val store = send(req("/dataset/big", guarded)
        .POST(BodyPublishers.ofString("v\n1\n2\n3\n"))
        .header("Content-Type", "text/csv").build())
      assert(store.statusCode() == 201)
      def q(json: String) = send(req("/dataset/big?q=" +
          java.net.URLEncoder.encode(json, UTF_8), guarded).GET()
        .header("Accept", "application/json").build())
      val over = q("{}") // 3 rows > 2 — the bare-{} OOM shape
      assert(over.statusCode() == 413)
      assert(over.body().contains("max-result-rows=2"))
      // a paged query under the bound serves the COMPLETE page
      val paged = q("""{"limit": 2}""")
      assert(paged.statusCode() == 200)
      assert(paged.body() == """[{"v":1},{"v":2}]""")
      // and the unsliced-length header still reports the pre-slice count
      assert(paged.headers().firstValue("X-QCache-unsliced-length").get == "3")
    } finally guarded.stop()
  }

  test("max-result-bytes guard: wide-string overflow is 413, small dumps pass") {
    // the row guard's blind spot: FEW rows × WIDE strings. The byte
    // guard aborts inside the serializer, so the driver never finishes
    // building the oversized response string.
    val guarded = new graft.server.GraftServer(spark, 0, maxResultBytes = 200L)
    guarded.start()
    try {
      val wide = "x" * 500
      val store = send(req("/dataset/widebytes", guarded)
        .POST(BodyPublishers.ofString(s"v\n$wide\n"))
        .header("Content-Type", "text/csv").build())
      assert(store.statusCode() == 201)
      def q(json: String, accept: String = "application/json") =
        send(req("/dataset/widebytes?q=" +
            java.net.URLEncoder.encode(json, UTF_8), guarded).GET()
          .header("Accept", accept).build())
      // one row, but 500 chars > 200-byte budget → 413 on every format
      for (accept <- Seq("application/json", "text/csv", "application/x-ndjson")) {
        val over = q("{}", accept)
        assert(over.statusCode() == 413, s"accept=$accept")
        assert(over.body().contains("max-result-bytes=200"), s"accept=$accept")
      }
      // a projection under the budget serves completely
      val ok = q("""{"select": [["count"]]}""")
      assert(ok.statusCode() == 200)
      assert(ok.body() == """[{"count":1}]""")
    } finally guarded.stop()
  }

  test("max-body-bytes guard: oversized uploads 413 before parsing, existing data untouched") {
    // the REQUEST-side mirror of the result guards: declared, streamed,
    // and post-decompression oversize all 413 without touching the cache
    val guarded = new graft.server.GraftServer(spark, 0, maxBodyBytes = 100L)
    guarded.start()
    try {
      assert(send(req("/dataset/mb", guarded)
        .POST(BodyPublishers.ofString("v\n1\n"))
        .header("Content-Type", "text/csv").build()).statusCode() == 201)
      // an oversized REPLACEMENT 413s and the original keeps serving —
      // the guard fires before the replace bookkeeping
      val big = "v\n" + (1 to 200).map(_.toString).mkString("\n") + "\n"
      val over = send(req("/dataset/mb", guarded)
        .POST(BodyPublishers.ofString(big))
        .header("Content-Type", "text/csv").build())
      assert(over.statusCode() == 413)
      assert(over.body().contains("max-body-bytes=100"))
      val still = send(req("/dataset/mb?q=" +
          java.net.URLEncoder.encode("{}", UTF_8), guarded)
        .GET().header("Accept", "application/json").build())
      assert(still.statusCode() == 200)
      assert(still.body() == """[{"v":1}]""")
      // decompression bomb: tiny on the wire, over the cap decoded
      val bomb = {
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(("v\n" + "1\n" * 400).getBytes(UTF_8)); gz.close()
        bos.toByteArray
      }
      assert(bomb.length <= 100, s"wire size ${bomb.length}")
      val bombR = send(req("/dataset/mb", guarded)
        .POST(BodyPublishers.ofByteArray(bomb))
        .header("Content-Type", "text/csv")
        .header("Content-Encoding", "gzip").build())
      assert(bombR.statusCode() == 413)
      // lz4 bomb: a 10-byte wire body whose size prefix CLAIMS 2^31-1
      // decoded bytes — must 413 BEFORE the allocation would exist (the
      // prefix is attacker-controlled; a post-decode length check would
      // be an OOM, not a rejection)
      val lz4Bomb = Array[Byte](-1, -1, -1, 0x7f) ++ Array.fill(6)(0.toByte)
      val lb = send(req("/dataset/mb", guarded)
        .POST(BodyPublishers.ofByteArray(lz4Bomb))
        .header("Content-Type", "text/csv")
        .header("Content-Encoding", "lz4").build())
      assert(lb.statusCode() == 413)
      // within-bound stores still work on the guarded server
      assert(send(req("/dataset/mb2", guarded)
        .POST(BodyPublishers.ofString("v\n7\n"))
        .header("Content-Type", "text/csv").build()).statusCode() == 201)
    } finally guarded.stop()
  }

  test("negative lz4 size prefix is a clean 400, not a 500") {
    // size prefix 0x80000000 (negative): previously a
    // NegativeArraySizeException escaping the 400 mapping
    val neg = Array[Byte](0, 0, 0, -128) ++ Array.fill(6)(0.toByte)
    val r = send(req("/dataset/neglz4")
      .POST(BodyPublishers.ofByteArray(neg))
      .header("Content-Type", "text/csv")
      .header("Content-Encoding", "lz4").build())
    assert(r.statusCode() == 400)
    assert(r.body().contains("negative"))
  }

  test("csv upload, json query round trip") {
    assert(storeCsv("t1", csvData).statusCode() == 201)
    val r = query("t1", """{"where": [">", "foo", 1]}""")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").get.startsWith("application/json"))
    assert(r.body() == """[{"foo":2,"bar":"bbb"},{"foo":3,"bar":"ccc"}]""")
  }

  test("json upload, csv query round trip") {
    val body = """[{"foo": 1, "bar": "aaa"}, {"foo": 2, "bar": "bbb"}]"""
    val r0 = send(req("/dataset/t2").POST(BodyPublishers.ofString(body))
      .header("Content-Type", "application/json").build())
    assert(r0.statusCode() == 201)
    val r = query("t2", """{"where": ["==", "foo", 2]}""", accept = "text/csv")
    assert(r.statusCode() == 200)
    assert(r.body() == "foo,bar\n2,bbb\n")
  }

  test("ndjson upload, ndjson query round trip (JSONL extension)") {
    val body = "{\"foo\": 1, \"bar\": \"aaa\"}\n{\"foo\": 2, \"bar\": \"bbb\"}\n{\"foo\": 3, \"bar\": \"ccc\"}\n"
    val r0 = send(req("/dataset/tnd").POST(BodyPublishers.ofString(body))
      .header("Content-Type", "application/x-ndjson").build())
    assert(r0.statusCode() == 201)
    // ndjson out: one record per line, first-record key order, no trailer
    val r = query("tnd", """{"where": [">", "foo", 1]}""",
      accept = "application/x-ndjson")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").get.startsWith("application/x-ndjson"))
    assert(r.body() == "{\"foo\":2,\"bar\":\"bbb\"}\n{\"foo\":3,\"bar\":\"ccc\"}")
    // and the stored table serves the parity formats too
    val rj = query("tnd", """{"select": [["count"]]}""")
    assert(rj.body() == """[{"count":3}]""")
    // malformed line → 400, not a silent null row
    val bad = send(req("/dataset/tnd2").POST(
        BodyPublishers.ofString("{\"a\": 1}\nnot json\n"))
      .header("Content-Type", "application/x-ndjson").build())
    assert(bad.statusCode() == 400)
  }

  test("trailing-slash routes match like the reference's tornado regex") {
    storeCsv("tslash", csvData)
    // GET /dataset/<key>/?q= (reference: app.py:308 `([A-Za-z0-9\-_]+)/?(q)?`)
    val r = send(req("/dataset/tslash/?q=" +
      java.net.URLEncoder.encode("""{"select": [["count"]]}""", UTF_8)).GET().build())
    assert(r.statusCode() == 200 && r.body() == """[{"count":3}]""")
    // POST /dataset/<key>/q with the slash before q
    val r2 = send(req("/dataset/tslash/q")
      .POST(BodyPublishers.ofString("""{"select": [["count"]]}""")).build())
    assert(r2.statusCode() == 200)
    // DELETE with trailing slash
    assert(send(req("/dataset/tslash/").DELETE().build()).statusCode() == 200)
    assert(query("tslash", "{}").statusCode() == 404)
  }

  test("memoized repeat queries stay correct across update and re-store") {
    assert(storeCsv("tmemo", csvData).statusCode() == 201)
    val q = """{"select": ["bar", ["sum", "foo"]], "group_by": ["bar"], "order_by": ["bar"]}"""
    val r1 = query("tmemo", q)
    // repeat of the identical query hits the plan memo — same bytes
    assert(query("tmemo", q).body() == r1.body())
    // an update swaps the CacheItem, killing the memo: the same query
    // text must now see the new data
    val upd = send(req("/dataset/tmemo/q").POST(BodyPublishers.ofString(
      """{"update": [["*", "foo", 10]], "where": [">", "foo", 1]}"""))
      .header("Content-Type", "application/json").build())
    assert(upd.statusCode() == 200)
    val r2 = query("tmemo", q)
    assert(r2.body() != r1.body())
    assert(r2.body().contains("\"foo\":20"))
    // a re-store replaces the item outright — fresh memo again
    assert(storeCsv("tmemo", "foo,bar\n7,aaa\n").statusCode() == 201)
    assert(query("tmemo", q).body() == """[{"bar":"aaa","foo":7}]""")
    // sliced repeat: the unsliced-length header survives memoization
    val sliced = """{"order_by": ["foo"], "limit": 1}"""
    val s1 = query("tmemo", sliced)
    val s2 = query("tmemo", sliced)
    assert(s1.headers().firstValue("X-QCache-unsliced-length").get == "1")
    assert(s2.headers().firstValue("X-QCache-unsliced-length").get == "1")
    assert(s1.body() == s2.body())
  }

  test("maintenance xops: memo replay by default, force re-executes, warmup never replays them") {
    val root = java.nio.file.Files.createTempDirectory("api_force").toString
    val seed = spark.createDataFrame(Seq(Tuple1("alpha beta alpha")))
      .toDF("vtext")
    graft.ops.VocabIndex.buildAndSave(seed, "vtext", k = 8,
      path = s"$root/fv", capacity = Some(1024))
    spark.conf.set("spark.graft.index.root", root)
    try {
      def nDocs: Long =
        graft.ops.VocabIndex.load(spark, s"$root/fv").nDocs.get
      assert(nDocs == 1L)
      // a schema unique to this test so ShapeWarmer state is isolated
      assert(storeCsv("fmaint", "vtext\ngamma delta\ngamma\n").statusCode() == 201)
      val plain = """{"xop": {"name": "vocab_update",
                              "args": {"column": "vtext", "index": "fv"}}}"""
      val r1 = query("fmaint", plain)
      assert(r1.statusCode() == 200 && nDocs == 3L)
      // byte-identical repeat replays the memoized report — the
      // documented default: the maintenance does NOT run again
      val r2 = query("fmaint", plain)
      assert(r2.body() == r1.body() && nDocs == 3L)
      // force: true opts out of the memo — same request re-executes,
      // and a REPEATED force request re-executes again (never memoized)
      val forced = """{"xop": {"name": "vocab_update",
                               "args": {"column": "vtext", "index": "fv",
                                        "force": true}}}"""
      val f1 = query("fmaint", forced)
      assert(f1.statusCode() == 200 && nDocs == 5L)
      assert(f1.body().contains("\"n_docs_before\":3"))
      val f2 = query("fmaint", forced)
      assert(f2.statusCode() == 200 && nDocs == 7L)
      assert(f2.body().contains("\"n_docs_before\":5"))
      // the read path rejects force — no silent no-op arg
      val bad = query("fmaint", """{"xop": {"name": "dedup_exact",
        "args": {"column": "vtext", "force": true}}}""")
      assert(bad.statusCode() == 400 &&
        bad.body().contains("only valid on maintenance ops"))
      // warmup isolation: storing a same-schema dataset must NOT replay
      // the (side-effecting) maintenance shape against it — only read
      // shapes are recorded for warmup
      val read = """{"select": ["vtext"], "order_by": ["vtext"], "limit": 1}"""
      assert(query("fmaint", read).statusCode() == 200)
      graft.server.ShapeWarmer.drain()
      assert(storeCsv("fmaint2", "vtext\nomega\n").statusCode() == 201)
      graft.server.ShapeWarmer.drain()
      val keys = server.cache.peek("fmaint2").get.memoizedKeys
      assert(keys.exists(_.contains("\"select\"")),
        "the plain read shape must have warmed the new dataset")
      assert(!keys.exists(_.contains("vocab_update")),
        "maintenance shapes must never be warmed")
      assert(nDocs == 7L, "warmup must not have run the maintenance")
    } finally {
      spark.conf.unset("spark.graft.index.root")
      graft.server.ShapeWarmer.clear()
    }
  }

  test("two-dataset xop over HTTP sees mutations of the second dataset") {
    val train = "id,text\n1,alpha beta gamma delta\n2,epsilon zeta eta theta\n"
    assert(storeCsv("xtrain", train).statusCode() == 201)
    assert(storeCsv("xeval", "id,text\nn9,alpha beta gamma delta\n").statusCode() == 201)
    val q = """{"xop": {"name": "decontaminate",
                        "args": {"id": "id", "column": "text",
                                 "eval": "xeval", "n": 4}},
                "select": ["id"], "order_by": ["id"]}"""
    assert(query("xtrain", q).body() == """[{"id":2}]""")
    // unknown eval dataset is a 400, not a 500
    val bad = query("xtrain", q.replace("xeval", "nosuch"))
    assert(bad.statusCode() == 400)
    // re-store the eval set with different text: the SAME query text must
    // see it (dataset-referencing queries bypass the plan memo)
    assert(storeCsv("xeval", "id,text\nn9,epsilon zeta eta theta\n").statusCode() == 201)
    assert(query("xtrain", q).body() == """[{"id":1}]""")
  }

  test("query via POST /q") {
    storeCsv("t3", csvData)
    val r = send(req("/dataset/t3/q")
      .POST(BodyPublishers.ofString("""{"select": [["count"]]}"""))
      .header("Accept", "application/json").build())
    assert(r.statusCode() == 200)
    assert(r.body() == """[{"count":3}]""")
  }

  test("xop operators run through GET ?q= and POST /q") {
    val docs = "id,src,text\n" +
      "1,web,aa bb cc dd\n2,web,aa bb cc dd\n3,book,ee ff gg hh\n"
    storeCsv("tx1", docs)
    // dedup_exact via GET — keeps first ingest row per duplicate text
    val r1 = query("tx1",
      """{"xop": {"name": "dedup_exact", "args": {"column": "text"}},
          "select": ["id"]}""")
    assert(r1.statusCode() == 200)
    assert(r1.body() == """[{"id":1},{"id":3}]""")
    // text_tokens composes with where via POST /q
    val r2 = send(req("/dataset/tx1/q").POST(BodyPublishers.ofString(
      """{"xop": {"name": "text_tokens", "args": {"column": "text"}},
          "where": ["==", "id", 1], "select": ["id", "n_tokens"]}"""))
      .header("Accept", "application/json").build())
    assert(r2.statusCode() == 200)
    assert(r2.body() == """[{"id":1,"n_tokens":4}]""")
    // sample_stratified via GET
    val r3 = query("tx1",
      """{"xop": {"name": "sample_stratified",
                  "args": {"id": "id", "strata": "src", "k": 1}},
          "select": [["count"]]}""")
    assert(r3.statusCode() == 200 && r3.body() == """[{"count":2}]""")
    // profile via GET
    val r4 = query("tx1", """{"xop": {"name": "profile"}, "select": [["count"]]}""")
    assert(r4.statusCode() == 200 && r4.body() == """[{"count":3}]""")
    // text_fingerprint via POST, grouped
    val r5 = send(req("/dataset/tx1/q").POST(BodyPublishers.ofString(
      """{"xop": {"name": "text_fingerprint", "args": {"column": "text"}},
          "select": ["fingerprint", ["count", "id"]], "group_by": ["fingerprint"],
          "order_by": ["-id"], "limit": 1}"""))
      .header("Accept", "application/json").build())
    assert(r5.statusCode() == 200 && r5.body().contains("\"id\":2"))
  }

  test("semantic_dedup runs over HTTP on a JSON-stored embedding table") {
    // JSON ingest infers the embedding array column natively — the
    // embedding-family xops are reachable over the wire, not just the
    // Scala API
    val body =
      """[{"id": 1, "embedding": [1.0, 0.0]},
          {"id": 2, "embedding": [0.999, 0.01]},
          {"id": 3, "embedding": [0.0, 1.0]},
          {"id": 4, "embedding": [-1.0, 0.0]}]"""
    val st = send(req("/dataset/semdd").POST(BodyPublishers.ofString(body))
      .header("Content-Type", "application/json").build())
    assert(st.statusCode() == 201)
    val r = query("semdd",
      """{"xop": {"name": "semantic_dedup",
                  "args": {"id": "id", "column": "embedding", "threshold": 0.99,
                           "centroids": [[1.0, 0.0], [0.0, 1.0]],
                           "action": "drop"}},
          "select": ["id", "cluster"], "order_by": ["id"]}""")
    assert(r.statusCode() == 200)
    // 2 is 1's in-cluster near-dup (dropped); 4 lands in cluster 1
    // ((-1,0): cos c0 = -1 < cos c1 = 0) and survives alongside 3
    assert(r.body() == """[{"id":1,"cluster":0},{"id":3,"cluster":1},{"id":4,"cluster":1}]""")
  }

  test("xop errors land in the 400 taxonomy over HTTP") {
    storeCsv("tx2", csvData)
    val r = query("tx2", """{"xop": {"name": "frobnicate"}}""")
    assert(r.statusCode() == 400 && r.body().contains("Unknown xop"))
    val r2 = query("tx2", """{"xop": {"name": "dedup_exact", "args": {"column": "zz"}}}""")
    assert(r2.statusCode() == 400)
    val r3 = query("tx2",
      """{"xop": {"name": "profile"}, "update": [["foo", 0]], "where": ["==", "foo", 1]}""")
    assert(r3.statusCode() == 400)
  }

  test("pagination: unsliced length header") {
    storeCsv("t4", csvData)
    val r = query("t4", """{"offset": 1, "limit": 1}""")
    assert(r.headers().firstValue("X-QCache-unsliced-length").get == "3")
    assert(r.body() == """[{"foo":2,"bar":"bbb"}]""")
  }

  test("GET on /q path is 404; unknown key is 404; counts a miss") {
    storeCsv("t5", csvData)
    assert(send(req("/dataset/t5/q").GET().build()).statusCode() == 404)
    assert(query("no_such_key", "{}").statusCode() == 404)
  }

  test("malformed query JSON and unknown column are 400 with error body") {
    storeCsv("t6", csvData)
    assert(query("t6", "{not json").statusCode() == 400)
    val r = query("t6", """{"where": ["==", "nope", 1]}""")
    assert(r.statusCode() == 400)
    assert(r.body().contains("error"))
    val r2 = query("t6", """{"where": ["frobnicate", "foo", 1]}""")
    assert(r2.statusCode() == 400 && r2.body().contains("Unknown operator"))
  }

  test("delete is idempotent and removes the dataset") {
    storeCsv("t7", csvData)
    assert(send(req("/dataset/t7").DELETE().build()).statusCode() == 200)
    assert(query("t7", "{}").statusCode() == 404)
    assert(send(req("/dataset/t7").DELETE().build()).statusCode() == 200)
  }

  test("content negotiation: bad accept 406, bad content type 415, bad charset 415") {
    storeCsv("t8", csvData)
    assert(query("t8", "{}", accept = "text/html").statusCode() == 406)
    val badCt = send(req("/dataset/t8x").POST(BodyPublishers.ofString(csvData))
      .header("Content-Type", "application/xml").build())
    assert(badCt.statusCode() == 415)
    val badCharset = send(req("/dataset/t8y").POST(BodyPublishers.ofString(csvData))
      .header("Content-Type", "text/csv; charset=iso-8859-1").build())
    assert(badCharset.statusCode() == 415)
  }

  test("type hints: string preserved, enum ordering rejected, unknown hint 400") {
    storeCsv("t9", "foo,bar\n123,1\n456,2\n", "X-QCache-types" -> "foo=string")
    val r = query("t9", """{"where": ["==", "foo", "'123'"]}""")
    assert(r.body() == """[{"foo":"123","bar":1}]""")

    storeCsv("t9b", "foo,bar\naaa,1\nbbb,2\n", "X-QCache-types" -> "foo=enum")
    assert(query("t9b", """{"where": ["==", "foo", "'aaa'"]}""").statusCode() == 200)
    val lt = query("t9b", """{"where": ["<", "foo", "'bbb'"]}""")
    assert(lt.statusCode() == 400)

    val bad = storeCsv("t9c", csvData, "X-QCache-types" -> "foo=int128")
    assert(bad.statusCode() == 400 && bad.body().contains("Unrecognized type"))
  }

  test("timestamp hint (extension): event xops run end-to-end over HTTP; strict mode keeps the reference 400") {
    // without the hint, an uploaded CSV can never carry a timestamp ts
    // (the reference surface is string|float|enum), leaving retention/
    // rate_anomaly HTTP-unreachable — the round-14 gap
    val ev = "user_id,event_type,ts\n" +
      "1,click,2024-01-01 00:00:10\n" +
      "2,click,2024-01-01 00:20:00\n" +
      "1,view,2024-01-02 00:01:00\n" +
      "2,view,2024-01-01 00:40:00\n" +
      "1,click,2024-01-01 01:10:00\n"
    assert(storeCsv("tsx", ev, "X-QCache-types" -> "ts=timestamp")
      .statusCode() == 201)
    val ret = query("tsx",
      """{"xop": {"name": "retention",
                  "args": {"period_seconds": 86400, "max_offset": 7}},
          "order_by": ["cohort", "offset"]}""")
    assert(ret.statusCode() == 200, ret.body())
    // users 1,2 first active day 19723; user 1 re-active at offset 1
    assert(ret.body() ==
      """[{"cohort":19723,"offset":0,"n_users":2},{"cohort":19723,"offset":1,"n_users":1}]""")
    val ra = query("tsx",
      """{"xop": {"name": "rate_anomaly",
                  "args": {"window": "1 hour", "trailing": 2}},
          "select": [["count"]]}""")
    assert(ra.statusCode() == 200, ra.body())
    // span 2024-01-01 00:00 .. 2024-01-02 00:01 = 25 hourly windows
    // per type x 2 types, empties spine-filled
    assert(ra.body() == """[{"count":50}]""")
    // a non-timestamp ts still reads the designed 400 from the xop
    assert(storeCsv("tsx2", ev).statusCode() == 201)
    val bad = query("tsx2",
      """{"xop": {"name": "retention", "args": {"period_seconds": 86400}}}""")
    assert(bad.statusCode() == 400 && bad.body().contains("timestamp"))
    // strict-parity server: the extension hint reads the reference's
    // exact "Unrecognized type" 400 (test_api.py:429-435 matrix intact)
    val strict = new GraftServer(spark, 0, strictTypeHints = true)
    strict.start()
    try {
      val r = send(req("/dataset/tsx3", strict)
        .POST(BodyPublishers.ofString(ev))
        .header("Content-Type", "text/csv")
        .header("X-QCache-types", "ts=timestamp").build())
      assert(r.statusCode() == 400 && r.body().contains("Unrecognized type"))
    } finally strict.stop()
  }

  test("stand-in columns: constant, column copy, chained") {
    storeCsv("t10", "foo\n1\n2\n",
      "X-QCache-stand-in-columns" -> "bar=13;baz=bar")
    val r = query("t10", """{"select": ["foo", "bar", "baz"], "where": ["==", "foo", 1]}""")
    assert(r.body() == """[{"foo":1,"bar":13,"baz":13}]""")
  }

  test("query-time stand-in columns") {
    storeCsv("t11", "foo\n1\n")
    val r = send(req("/dataset/t11?q=" +
      java.net.URLEncoder.encode("""{"select": ["foo", "extra"]}""", UTF_8)).GET()
      .header("X-QCache-stand-in-columns", "extra=42").build())
    assert(r.body() == """[{"foo":1,"extra":42}]""")
  }

  test("json store: type-hint header is ignored, even with an unknown name") {
    // reference parses (and validates) the header only in the CSV branch
    // (app.py:249-257) — a JSON store never touches it, so an unknown
    // type name is still a 201 and valid hints are not applied
    val bad = send(req("/dataset/t11b0").POST(BodyPublishers.ofString("""[{"a": 1}]"""))
      .header("Content-Type", "application/json")
      .header("X-QCache-types", "a=int128").build())
    assert(bad.statusCode() == 201)
    val ok = send(req("/dataset/t11b").POST(BodyPublishers.ofString("""[{"a": 1}]"""))
      .header("Content-Type", "application/json")
      .header("X-QCache-types", "a=string").build())
    assert(ok.statusCode() == 201)
    assert(query("t11b", "{}").body() == """[{"a":1}]""") // number, not "1"
  }

  test("update writing to a request-only stand-in column persists it") {
    storeCsv("t11c", "foo\n1\n2\n")
    val u = send(req("/dataset/t11c/q").POST(BodyPublishers.ofString(
      """{"update": [["extra", 99]], "where": ["==", "foo", 2]}"""))
      .header("X-QCache-stand-in-columns", "extra=42").build())
    assert(u.statusCode() == 200)
    // the acknowledged write survives: no header on the follow-up query
    assert(query("t11c", "{}").body() ==
      """[{"foo":1,"extra":42},{"foo":2,"extra":99}]""")
    // ...but a stand-in the update did NOT touch stays per-request
    val u2 = send(req("/dataset/t11c/q").POST(BodyPublishers.ofString(
      """{"update": [["foo", 7]], "where": ["==", "foo", 1]}"""))
      .header("X-QCache-stand-in-columns", "ghost=1").build())
    assert(u2.statusCode() == 200)
    assert(!query("t11c", "{}").body().contains("ghost"))
  }

  test("update statement over HTTP mutates the cached table") {
    storeCsv("t12", csvData)
    val u = send(req("/dataset/t12/q").POST(BodyPublishers.ofString(
      """{"update": [["bar", "'zzz'"]], "where": ["==", "foo", 2]}""")).build())
    assert(u.statusCode() == 200)
    val r = query("t12", """{"where": ["==", "foo", 2]}""")
    assert(r.body() == """[{"foo":2,"bar":"zzz"}]""")
  }

  test("unicode round trip") {
    storeCsv("t13", "foo,bar\naaa,Iñtërnâtiônàližætiøn\nbbb,räksmörgås\n")
    val r = query("t13", """{"where": ["==", "bar", "'räksmörgås'"]}""")
    assert(r.body() == """[{"foo":"bbb","bar":"räksmörgås"}]""")
  }

  test("statistics: counters accumulate and snapshot resets") {
    storeCsv("stats1", csvData)
    query("stats1", "{}")
    query("missing_key_xyz", "{}")
    val r1 = send(req("/statistics").GET().build())
    assert(r1.statusCode() == 200)
    assert(r1.body().contains("\"hit_count\""))
    assert(r1.body().contains("\"miss_count\""))
    assert(r1.body().contains("\"store_count\""))
    assert(r1.body().contains("\"dataset_count\""))
    val r2 = send(req("/statistics").GET().build())
    assert(!r2.body().contains("\"hit_count\"")) // reset on snapshot
  }

  test("status endpoint") {
    val r = send(req("/status").GET().build())
    assert(r.statusCode() == 200 && r.body() == "OK")
  }

  test("gzip request and response bodies") {
    val gz = Codec.gzipCompress(csvData.getBytes(UTF_8))
    val stored = send(req("/dataset/t14").POST(BodyPublishers.ofByteArray(gz))
      .header("Content-Type", "text/csv")
      .header("Content-Encoding", "gzip").build())
    assert(stored.statusCode() == 201)
    val r = sendBytes(req("/dataset/t14?q=" +
      java.net.URLEncoder.encode("""{"select": [["count"]]}""", UTF_8)).GET()
      .header("Accept-Encoding", "gzip").build())
    assert(r.headers().firstValue("Content-Encoding").get == "gzip")
    assert(new String(Codec.gzipDecompress(r.body()), UTF_8) == """[{"count":3}]""")
  }

  test("lz4 request and response bodies (lz4 preferred over gzip)") {
    val lz = Codec.lz4Compress(csvData.getBytes(UTF_8))
    val stored = send(req("/dataset/t15").POST(BodyPublishers.ofByteArray(lz))
      .header("Content-Type", "text/csv")
      .header("Content-Encoding", "lz4").build())
    assert(stored.statusCode() == 201)
    val r = sendBytes(req("/dataset/t15?q=" +
      java.net.URLEncoder.encode("""{"select": [["count"]]}""", UTF_8)).GET()
      .header("Accept-Encoding", "lz4, gzip").build())
    assert(r.headers().firstValue("Content-Encoding").get == "lz4")
    assert(new String(Codec.lz4Decompress(r.body()), UTF_8) == """[{"count":3}]""")
  }

  test("unknown request encoding is 400") {
    val r = send(req("/dataset/t16").POST(BodyPublishers.ofString(csvData))
      .header("Content-Type", "text/csv")
      .header("Content-Encoding", "snappy").build())
    assert(r.statusCode() == 400)
  }

  test("unknown Accept-Encoding: 200 uncompressed (reference: test_api.py:605)") {
    storeCsv("t16b", csvData)
    val r = send(req("/dataset/t16b?q=" +
      java.net.URLEncoder.encode("""{"select": [["count"]]}""", UTF_8)).GET()
      .header("Accept-Encoding", "br").build())
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Encoding").isEmpty)
    assert(r.body() == """[{"count":3}]""")
  }

  test("non-200 responses are never compressed (reference: test_api.py:618)") {
    val r = send(req("/dataset/no_such_key?q=%7B%7D").GET()
      .header("Accept-Encoding", "gzip, lz4").build())
    assert(r.statusCode() == 404)
    assert(r.headers().firstValue("Content-Encoding").isEmpty)
  }

  test("query body that is a list, not a dict, is 400 (reference: test_api.py:229)") {
    storeCsv("t16c", csvData)
    val r = send(req("/dataset/t16c/q")
      .POST(BodyPublishers.ofString("""[{"where": ["==", "foo", 1]}]""")).build())
    assert(r.statusCode() == 400)
  }

  test("size eviction: LRU dataset evicted when budget exceeded") {
    // Probe the in-memory size of one dataset, then size a cache for 1.5×
    val probe = new GraftServer(spark, 0)
    probe.start()
    try {
      send(req("/dataset/probe", probe).POST(BodyPublishers.ofString(csvData))
        .header("Content-Type", "text/csv").build())
      val one = probe.cache.size
      // Free headroom after the first store must be smaller than the next
      // body's byte length for ensure_free to evict (reference semantics:
      // the request body length is the allocation unit, app.py:248).
      val small = new GraftServer(spark, 0, maxCacheSize = one + 10)
      small.start()
      try {
        storeAt(small, "a"); storeAt(small, "b")
        assert(queryAt(small, "a").statusCode() == 404) // LRU-evicted
        assert(queryAt(small, "b").statusCode() == 200)
        val s = send(req("/statistics", small).GET().build())
        assert(s.body().contains("\"size_evict_count\":1"))
      } finally small.stop()
    } finally probe.stop()
  }

  test("store larger than the whole cache: 500, nothing evicted, resident data still served") {
    val probe = new GraftServer(spark, 0)
    probe.start()
    try {
      storeAt(probe, "probe")
      val small = new GraftServer(spark, 0, maxCacheSize = probe.cache.size + 10)
      small.start()
      try {
        assert(storeAt(small, "resident").statusCode() == 201)
        val before = small.cache.size
        // a CSV body is allocated at its byte length (reference: app.py:248)
        val big = "foo,bar\n" + "1,aaa\n" * (small.cache.maxSize / 6 + 1).toInt
        assert(big.length > small.cache.maxSize)
        val r = send(req("/dataset/huge", small).POST(BodyPublishers.ofString(big))
          .header("Content-Type", "text/csv").build())
        assert(r.statusCode() == 500)
        assert(r.body() == "Impossible to allocate")
        assert(small.cache.count == 1 && small.cache.size == before)
        assert(queryAt(small, "resident").statusCode() == 200)
        assert(queryAt(small, "huge").statusCode() == 404)
      } finally small.stop()
    } finally probe.stop()
  }

  test("age eviction: lazy TTL with injected clock") {
    @volatile var now = 1000000000L
    val ttl = new GraftServer(spark, 0, maxAge = 10, clock = () => now)
    ttl.start()
    try {
      storeAt(ttl, "t")
      assert(queryAt(ttl, "t").statusCode() == 200)
      now += 11 * 1000
      assert(queryAt(ttl, "t").statusCode() == 404)
      val s = send(req("/statistics", ttl).GET().build())
      assert(s.body().contains("\"age_evict_count\":1"))
      // statistics_duration runs on the same injected clock
      now += 5 * 1000
      val s2 = send(req("/statistics", ttl).GET().build())
      assert(s2.body().contains("\"statistics_duration\":5.0"))
    } finally ttl.stop()
  }

  test("concurrent stores, queries, updates and deletes stay consistent") {
    import java.util.concurrent.{Executors, TimeUnit}
    import scala.util.Try
    val pool = Executors.newFixedThreadPool(8)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tasks: Seq[Runnable] = (0 until 24).map { i =>
      () => Try {
        val key = s"conc${i % 4}"
        i % 4 match {
          case 0 => assert(storeAt(server, key).statusCode() == 201)
          case 1 =>
            val r = queryAt(server, key)
            assert(r.statusCode() == 200 || r.statusCode() == 404)
          case 2 =>
            val r = send(req(s"/dataset/$key/q").POST(BodyPublishers.ofString(
              """{"update": [["foo", 99]], "where": ["==", "foo", 1]}""")).build())
            assert(r.statusCode() == 200 || r.statusCode() == 404)
          case 3 => assert(send(req(s"/dataset/$key").DELETE().build()).statusCode() == 200)
        }
      }.failed.foreach(e => errors.add(s"task $i: $e"))
    }
    tasks.foreach(pool.execute)
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(errors.isEmpty, errors.toString)
    // server still healthy afterwards
    assert(send(req("/status").GET().build()).body() == "OK")
    storeAt(server, "conc_final")
    assert(queryAt(server, "conc_final").statusCode() == 200)
  }

  private def storeAt(s: GraftServer, key: String) =
    send(req(s"/dataset/$key", s).POST(BodyPublishers.ofString(csvData))
      .header("Content-Type", "text/csv").build())

  private def queryAt(s: GraftServer, key: String) =
    send(req(s"/dataset/$key?q=" +
      java.net.URLEncoder.encode("{}", UTF_8), s).GET().build())

  test("index-served reads survive maintenance churn: retry + memo heal, no 5xx") {
    import spark.implicits._
    // a persisted MinHash index being UPDATED while identical HTTP reads
    // stream against it: a shard swap mid-read surfaces as a
    // missing-input-file task failure, which the server must absorb by
    // invalidating the stale memoized plan and retrying fresh — the
    // client never sees a 5xx, and the post-churn answer matches a
    // fresh computation over the final index state
    val root = java.nio.file.Files.createTempDirectory("api_churn").toString
    def corpusAt(v: Int) = Seq(
      (1L, s"the quick brown fox jumps over the lazy dog v$v"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, s"colorless green ideas sleep furiously at night v$v"))
      .toDF("doc_id", "text")
    graft.ops.MinHashIndex.buildAndSave(corpusAt(0), "doc_id", "text",
      path = s"$root/ri")
    spark.conf.set("spark.graft.index.root", root)
    try {
      assert(storeCsv("churnprobe",
        "pid,ptext\n101,the quick brown fox jumps over the lazy dog v0\n" +
          "102,nothing here resembles anything stored\n").statusCode() == 201)
      val qJson = """{"xop": {"name": "minhash_against",
                              "args": {"id": "pid", "column": "ptext",
                                       "index": "ri", "threshold": 0.4}},
                      "order_by": ["batch_id", "corpus_id"]}"""
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val updaterErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val updater = new Thread(() => {
        var v = 1
        while (!stop.get()) {
          try graft.ops.MinHashIndex.update(spark, s"$root/ri",
            corpusAt(v), "doc_id", "text")
          catch { case t: Throwable => updaterErr.set(t); stop.set(true) }
          v += 1
        }
      }, "api-churn-updater")
      updater.start()
      val responses = try (1 to 40).map { _ =>
        val r = query("churnprobe", qJson); (r.statusCode(), r.body())
      } finally { stop.set(true); updater.join(30000) }
      assert(updaterErr.get() == null, s"updater failed: ${updaterErr.get()}")
      assert(responses.forall(_._1 == 200),
        s"non-200 under churn: ${responses.find(_._1 != 200)}")
      // settled state: the memoized (possibly healed) plan's answer must
      // equal a fresh engine run over the final index
      val settled = query("churnprobe", qJson)
      assert(settled.statusCode() == 200)
      val art = graft.ops.MinHashIndex.load(spark, s"$root/ri")
      val fresh = graft.ops.Dedup.minhashPairsAgainstIndex(
        Seq((101L, "the quick brown fox jumps over the lazy dog v0"),
          (102L, "nothing here resembles anything stored")).toDF("pid", "ptext"),
        "pid", "ptext", art, threshold = 0.4)
        .orderBy("batch_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val served = graft.engine.QueryJson.parse(settled.body()) match {
        case l: List[_] => l.map {
          case m: scala.collection.Map[String @unchecked, Any @unchecked] =>
            (m("batch_id").asInstanceOf[Long], m("corpus_id").asInstanceOf[Long])
        }
        case other => fail(s"unexpected body shape: $other")
      }
      assert(served == fresh, s"served $served != fresh $fresh")
    } finally spark.conf.unset("spark.graft.index.root")
  }

  test("a genuinely deleted artifact surfaces as a prompt 400, not a retry loop") {
    import spark.implicits._
    // the missing-input classifier's other half: churn retries absorb a
    // mid-swap race, but an artifact that is GONE (manifest and all)
    // must fail the query with the loader's own 400 after the bounded
    // attempts — never a 5xx, never an unbounded retry
    val root = java.nio.file.Files.createTempDirectory("api_gone").toString
    graft.ops.MinHashIndex.buildAndSave(
      Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "pack my box with five dozen liquor jugs"))
        .toDF("doc_id", "text"),
      "doc_id", "text", path = s"$root/gone")
    spark.conf.set("spark.graft.index.root", root)
    try {
      assert(storeCsv("goneprobe",
        "pid,ptext\n101,the quick brown fox jumps over the lazy dog\n")
        .statusCode() == 201)
      val qJson = """{"xop": {"name": "minhash_against",
                              "args": {"id": "pid", "column": "ptext",
                                       "index": "gone", "threshold": 0.4}}}"""
      assert(query("goneprobe", qJson).statusCode() == 200) // memoized once
      // delete the whole artifact, then re-query: the healed (re-planned)
      // attempt hits the loader's missing-manifest contract
      def rmRec(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(c => rmRec(c)) finally s.close()
        }
        java.nio.file.Files.delete(p)
      }
      rmRec(java.nio.file.Paths.get(root, "gone"))
      // the memoized first plan may legitimately keep serving from the
      // cached relation (store-once-query-many); a DIFFERENT query has
      // to plan fresh against the now-missing artifact
      val qJson2 = """{"xop": {"name": "minhash_against",
                               "args": {"id": "pid", "column": "ptext",
                                        "index": "gone", "threshold": 0.4}},
                       "order_by": ["batch_id"]}"""
      val t0 = System.nanoTime()
      val r = query("goneprobe", qJson2)
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(r.statusCode() == 400, s"expected 400, got ${r.statusCode()}: ${r.body()}")
      assert(r.body().contains("no minhash index"), r.body())
      // bounded: two in-loop retries (one 50 ms sleep) plus the fresh
      // plan's work — nowhere near an unbounded loop's timeout scale
      assert(elapsedMs < 30000, s"error took ${elapsedMs} ms to surface")
    } finally spark.conf.unset("spark.graft.index.root")
  }
}
