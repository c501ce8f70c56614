package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.api.McpServer
import graft.core.CollectionManager
import graft.functions.{Formatting, HashingEmbedder, TextSplitter}
import graft.operators.Pipeline
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import perfbench.Gen.{Doc, Request}

/** A collection the benchmark created, and what it must contain: the live
  * documents with their revisions and the generator's expected chunk counts.
  */
final class Collection(val run: Run, val name: String) {
  import run._
  val manager = new CollectionManager(spark, cfg.work.resolve("collections").toString,
    HashingEmbedder.default)
  val live = mutable.LinkedHashMap[Int, Doc]()
  val liveIdx = mutable.ArrayBuffer[Int]()
  val chunks = mutable.HashMap[Int, Int]()
  val versions = mutable.HashMap[Int, Int]().withDefaultValue(0)
  var nextId = 0
  private val splitter = TextSplitter.default

  private val schema = StructType(Seq(
    StructField("id", StringType, nullable = false), StructField("url", StringType),
    StructField("metadata", MapType(StringType, StringType)), StructField("text", StringType)))

  def frame(docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(docs.map(d => Row(d.id, d.url,
      Map("lang" -> d.lang, "source" -> d.source, "lastModifiedAt" -> d.lastModifiedAt), d.text)).asJava,
      schema)

  private def put(i: Int, d: Doc): Unit = {
    if (!live.contains(i)) liveIdx += i
    live(i) = d
    chunks(i) = 1 + splitter.split(d.text).size // header chunk + body chunks
  }

  def textBytes(docs: Iterable[Doc]): Long = docs.iterator.map(_.text.getBytes("UTF-8").length.toLong).sum

  /** Generate docs 0 until n and register them; the caller creates. */
  def createInput(n: Int): (DataFrame, Seq[Doc]) = {
    val docs = (0 until n).map(i => gen.doc(i))
    docs.zipWithIndex.foreach { case (d, i) => put(i, d) }
    nextId = n
    (frame(docs), docs)
  }

  /** Apply update batch `b`: ~half the docs changed, half new. */
  def updateBatch(b: Int, size: Int): (DataFrame, Seq[Int], Seq[Int], Long) = {
    val (changed, fresh) = gen.updateBatch(b, liveIdx.toIndexedSeq, size / 2, size - size / 2, nextId)
    nextId += fresh.size
    val docs = changed.map { i => versions(i) += 1; i -> gen.doc(i, versions(i)) } ++
      fresh.map(i => i -> gen.doc(i))
    docs.foreach { case (i, d) => put(i, d) }
    (frame(docs.map(_._2)), changed, fresh, textBytes(docs.map(_._2)))
  }

  def deleteBatch(b: Int, size: Int): Seq[Int] = {
    val ids = gen.deleteBatch(b, liveIdx.toIndexedSeq, size)
    ids.foreach { i => live.remove(i); chunks.remove(i) }
    liveIdx --= ids
    ids
  }

  def dir: java.nio.file.Path = cfg.work.resolve("collections").resolve(name)

  def diskBytes: Long = files.map(java.nio.file.Files.size).sum
  def files: Seq[java.nio.file.Path] =
    java.nio.file.Files.walk(dir).iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toSeq

  /** The manifest's counts must equal the generator's. */
  def checkManifest(): Unit = op("manifest") {
    val m = manager.readManifest(name)
    check(m.numberOfDocuments == live.size,
      s"manifest numberOfDocuments ${m.numberOfDocuments} != expected ${live.size}")
    check(m.numberOfChunks == chunks.values.sum,
      s"manifest numberOfChunks ${m.numberOfChunks} != expected ${chunks.values.sum}")
  }

  /** Fetch a live doc through the core API: it returns its exact text. */
  def checkFetch(i: Int): Unit = op("fetch-check") {
    val rows = manager.fetch(name, gen.docId(i), 1, 10000).collect()
    check(rows.length == 1 && rows(0).getAs[String]("content") == live(i).text,
      s"fetch ${gen.docId(i)} content differs from generated text")
  }

  /** Every hit of a BM25-only single-term search contains the term. */
  def checkBm25(term: String): Unit = op("bm25-check") {
    val rows = manager.search(name, term, maxChunks = 20, maxDocs = 20,
      indexNames = Some(Seq("bm25")), includeMatchedChunkContent = true).collect()
    check(rows.nonEmpty, s"bm25 '$term' returned nothing")
    rows.foreach { r =>
      r.getAs[scala.collection.Seq[Row]]("matchedChunks").foreach { c =>
        check(graft.operators.Search.tokenize(c.getAs[String]("indexedData")).contains(term),
          s"bm25 hit ${r.getAs[String]("documentId")} lacks term '$term'")
      }
    }
  }

  def finalChecks(): Unit = {
    checkManifest()
    val r = new java.util.SplittableRandom(cfg.seed)
    checkFetch(liveIdx(r.nextInt(liveIdx.size)))
    checkBm25(gen.probeTerm((cfg.seed % 50).toInt))
  }
}

/** `mixed`: an MCP agent's request stream over one collection, where every
  * small write (update or delete batch) is followed by a burst of reads that
  * includes read-your-writes probes.
  */
final class MixedWorkload(run: Run) {
  import run._

  private var coll: Collection = _
  private var server: McpServer = _
  private var reqId = 0L
  private var pairs = 0

  private def line(req: Request): String = {
    reqId += 1
    val r = mapper.createObjectNode()
    r.put("jsonrpc", "2.0"); r.put("id", reqId); r.put("method", "tools/call")
    val p = r.putObject("params")
    val a = p.putObject("arguments")
    a.put("collection", coll.name)
    req.kind match {
      case "search" | "filtered_search" =>
        p.put("name", "search_in_collection"); a.put("query", req.query)
        req.filter.foreach(a.put("filter", _))
      case "match" => p.put("name", "match_in_collection"); a.put("query", req.query)
      case "fetch" => p.put("name", "fetch_from_collection"); a.put("id", gen.docId(req.docIndex))
    }
    mapper.writeValueAsString(r)
  }

  /** The result rows of an MCP reply, or None after recording the failure. */
  private def rows(req: Request, resp: Option[String]): Option[JsonNode] = {
    val res = resp.map(mapper.readTree(_).path("result"))
    val text = res.map(_.path("content").path(0).path("text").asText("")).getOrElse("")
    if (res.isEmpty || res.get.path("isError").asBoolean(false) || text.startsWith("Error:")) {
      fail(s"${req.kind} '${if (req.kind == "fetch") gen.docId(req.docIndex) else req.query}': ${text.take(200)}")
      None
    } else {
      val arr = mapper.readTree(text)
      if (!arr.isArray) { fail(s"${req.kind}: reply is not a row array"); None } else Some(arr)
    }
  }

  private def docIds(arr: JsonNode): Seq[String] = arr.elements().asScala.map(_.path("documentId").asText).toSeq

  private def verify(req: Request, arr: JsonNode): Unit = req.kind match {
    case "search" => ()
    case "filtered_search" =>
      val pred = gen.filterPool.toMap.apply(req.filter.get)
      docIds(arr).foreach { id =>
        val d = coll.live.get(id.drop(1).toInt)
        check(d.exists(pred), s"filtered search '${req.filter.get}' returned non-matching $id")
      }
    case "match" =>
      arr.elements().asScala.foreach { h =>
        check(graft.operators.Search.tokenize(h.path("snippet").asText("")).contains(req.query),
          s"match '${req.query}' hit ${h.path("chunkId")} snippet lacks the term")
      }
    case "fetch" =>
      coll.live.get(req.docIndex) match {
        case Some(d) =>
          check(arr.size == 1 && arr.get(0).path("content").asText == d.text,
            s"fetch ${gen.docId(req.docIndex)} content differs from generated text")
        case None => check(arr.size == 0, s"deleted ${gen.docId(req.docIndex)} still fetchable")
      }
  }

  /** One MCP request, timed from request line in to response string out.
    * Traced runs send each hybrid search twice, once plain and once traced
    * (order alternating), for the tracing overhead; searches are read-only.
    */
  private def request(req: Request, extra: JsonNode => Unit = _ => ()): Double =
    if (!(tracingOn && req.kind == "search")) call(req, extra)._1
    else {
      def plain(): Unit = {
        tracingOn = false
        overheadSample(call(req)._2)
        tracingOn = true
      }
      pairs += 1
      val plainFirst = pairs % 2 == 0 // a repeated search runs faster: alternate
      if (plainFirst) plain()
      val (ms, outer) = call(req, extra)
      overheadSample(outer)
      if (!plainFirst) plain()
      ms
    }

  /** (latency, wall including the trace drain) of one request. */
  private def call(req: Request, extra: JsonNode => Unit = _ => ()): (Double, Double) = {
    val l = line(req)
    var ms = 0.0
    var outer = 0.0
    op(req.kind) {
      val ((resp, s), o) = timed(traced("api.handleLine", reqId)(server.handleLine(l)))
      outer = o
      ms = s.map(_.wallMs).getOrElse(o)
      if (s.nonEmpty || !cfg.traced) sample(s"${req.kind}_ms", ms)
      rows(req, resp).foreach { arr =>
        verify(req, arr); extra(arr)
        s.foreach { sp => sparkCounts(req.kind, sp, math.max(1, arr.size)); decompose(req, sp) }
      }
    }
    (ms, outer)
  }

  /** Traced only: the same request through the layer APIs underneath it;
    * its spans carry the request's id.
    */
  private def decompose(req: Request, handle: Span): Unit = {
    val name = coll.name
    val m = coll.manager
    val id = handle.req
    def collectMs(df: => DataFrame): Double = {
      val (_, s) = traced("core.collect", id)(df.collect())
      s.get.wallMs
    }
    req.kind match {
      case "search" | "filtered_search" =>
        val (df, plan) = traced("core.search.plan", id)(m.search(name, req.query, maxChunks = 50, maxDocs = 50,
          metadataFilter = req.filter, includeMatchedChunkContent = true))
        val (rows, exec) = traced("core.search.exec", id)(df.collect())
        val (_, fmt) = traced("api.format", id)(Formatting.json(spark.createDataFrame(rows.toSeq.asJava, df.schema)))
        layerSample("core.search.plan_ms", plan.get.wallMs)
        layerSample("core.search.plan_jobs", plan.get.jobs.toDouble)
        layerSample("core.search.exec_ms", exec.get.wallMs)
        layerSample("api.format_ms", fmt.get.wallMs)
        layerSample("api.request_overhead_ms", handle.wallMs - plan.get.wallMs - exec.get.wallMs)
        if (req.kind == "search") {
          layerSample("operators.hybrid_search_ms", plan.get.wallMs + exec.get.wallMs)
          layerSample("operators.vector_search_ms", collectMs(m.search(name, req.query, 50, 50,
            includeMatchedChunkContent = true, indexNames = Some(Seq("vector_exact_l2")))))
          layerSample("operators.bm25_search_ms", collectMs(m.search(name, req.query, 50, 50,
            includeMatchedChunkContent = true, indexNames = Some(Seq("bm25")))))
        }
      case "match" =>
        layerSample("operators.match_ms", collectMs(m.booleanSearch(name, req.query)))
        layerSample("operators.match_snippet_ms", collectMs(m.booleanSearch(name, req.query, includeSnippet = true)))
      case "fetch" =>
        layerSample("core.fetch.exec_ms", collectMs(m.fetch(name, gen.docId(req.docIndex), 1, 250)))
    }
  }

  private def collectionState(): Unit = if (cfg.traced && tracingOn) {
    layerSample("core.bm25_tail_segments", coll.manager.bm25TailSegments(coll.name).toDouble)
    layerSample("core.bm25_tail_bytes", coll.manager.bm25TailBytes(coll.name).toDouble)
    layerSample("core.collection_files", coll.files.size.toDouble)
  }

  /** One write batch; returns (updated existing ids, deleted ids). */
  private def write(b: Int, isDelete: Boolean, batch: Int): (Seq[Int], Seq[Int]) = {
    if (isDelete) {
      val ids = coll.deleteBatch(b, batch)
      val ((), ms) = timed(op("delete") {
        val (_, s) = traced("core.delete")(coll.manager.delete(coll.name, ids.map(gen.docId)))
        s.foreach(sparkCounts("delete", _))
      }.getOrElse(()))
      sample("delete_ms", ms)
      (Nil, ids)
    } else {
      val (df, changed, _, bytes) = coll.updateBatch(b, batch)
      val ((), ms) = timed(op("update") {
        val (_, s) = traced("core.update")(coll.manager.update(coll.name, df))
        s.foreach { sp =>
          sparkCounts("update", sp)
          layerSample("core.update.write_amp", sp.bytesWritten.toDouble / math.max(1L, bytes))
        }
      }.getOrElse(()))
      sample("update_ms", ms)
      (changed, Nil)
    }
  }

  def measure(): Body = {
    val n = cfg.docs
    val batch = math.max(2, n / 100)
    inputs.put("docs", n)
    inputs.put("batch_docs", batch)

    // One cycle, the same ops every time: an update batch and a delete
    // batch, each followed by its read-your-writes probes (the probe search
    // is the first search after the write) and one request of the Zipf
    // stream.
    def cycle(c: Int): Unit = {
      val (changed, _) = write(2 * c, isDelete = false, batch)
      collectionState()
      changed.headOption.foreach { i =>
        val d = gen.docId(i)
        sample("search_after_write_ms", request(Request("search", gen.marker(i, coll.versions(i))), arr =>
          check(docIds(arr).contains(d), s"updated $d not found by its marker")))
        request(Request("fetch", "", docIndex = i))
      }
      request(gen.streamRequest(2 * c, "match"))
      val (_, removed) = write(2 * c + 1, isDelete = true, batch)
      collectionState()
      removed.headOption.foreach { i =>
        val d = gen.docId(i)
        sample("search_after_write_ms", request(Request("search", d), arr =>
          check(!docIds(arr).contains(d), s"deleted $d still searchable")))
        request(Request("fetch", "", docIndex = i))
      }
      request(gen.streamRequest(2 * c + 1, "filtered_search"))
    }

    // Set-up, once: generate the docs, create the collection, then one
    // unsampled, untraced warm-up cycle through every request path. A
    // process is cold only once, so the set-up is not repeated.
    setup {
      coll = new Collection(run, "c")
      val (df, docs) = coll.createInput(n)
      inputs.put("chunks", coll.chunks.values.sum)
      inputs.put("text_bytes", coll.textBytes(docs))
      val ((_, s), ms) = timed(traced("core.create")(coll.manager.create(coll.name, df)))
      sample("create_ms", ms)
      s.foreach(sparkCounts("create", _))
      server = new McpServer(coll.manager, Some(Seq(coll.name)), format = "json")
      tracingOn = false
      cycle(0)
      tracingOn = cfg.traced
    }
    samples.filterInPlace((k, _) => k == "setup_ms" || k == "create_ms")
    collectionState()
    val gc0 = gcTotals
    loop(cfg.seconds)(c => cycle(c + 1))
    val spaceAmp = coll.diskBytes.toDouble / coll.textBytes(coll.live.values)
    coll.finalChecks()
    inputs.put("final_docs", coll.live.size)
    inputs.put("final_chunks", coll.chunks.values.sum)

    def p(k: String, q: Double = 0.5) = Run.quantile(samples.getOrElse(k, Nil).toSeq, q)
    val searches = Seq("search_ms", "filtered_search_ms", "match_ms").flatMap(samples.getOrElse(_, Nil)).toSeq
    val writes = Seq("update_ms", "delete_ms").flatMap(samples.getOrElse(_, Nil)).toSeq
    val named = Seq(
      "search_p50_ms" -> (Run.quantile(searches, 0.5), "ms"),
      "search_p90_ms" -> (Run.quantile(searches, 0.9), "ms"),
      "fetch_p50_ms" -> (p("fetch_ms"), "ms"),
      "fetch_p90_ms" -> (p("fetch_ms", 0.9), "ms"),
      "create_docs_per_s" -> (n / (p("create_ms") / 1000), "docs/s"),
      "space_amp" -> (spaceAmp, "ratio"),
      "search_after_write_p50_ms" -> (p("search_after_write_ms"), "ms"),
      "update_p50_s" -> (p("update_ms") / 1000, "s"),
      "delete_p50_s" -> (p("delete_ms") / 1000, "s"))
    Body(Seq("op_ms" -> (searches.sum / searches.size, "ms"),
      "batch_ms" -> (writes.sum / writes.size, "ms")), named, gc0)
  }
}

/** `curate`: repeated curation passes, output written to Parquet: a full
  * pass over a generated corpus (more than half of it per-doc work) and a
  * pass over a batch of 1% new docs (bound by the fixed cost of the
  * pipeline's jobs).
  */
final class CurateWorkload(run: Run) {
  import run._

  private val config = Pipeline.CurationConfig(
    lineDedupMaxOccurrences = Some(3), minTokens = 20, minQuality = 0.5,
    redactPii = true, nearDedup = true,
    decontaminateSubstrLen = Some(50), selfDedupSubstrLen = Some(100))

  private val stageConfigs = Seq(
    "line_dedup" -> Pipeline.CurationConfig(lineDedupMaxOccurrences = Some(3)),
    "quality" -> Pipeline.CurationConfig(minTokens = 20, minQuality = 0.5),
    "pii" -> Pipeline.CurationConfig(redactPii = true),
    "near_dup" -> Pipeline.CurationConfig(nearDedup = true),
    "decontam_substr" -> Pipeline.CurationConfig(decontaminateSubstrLen = Some(50)),
    "self_dedup_substr" -> Pipeline.CurationConfig(selfDedupSubstrLen = Some(100)))

  def measure(): Body = {
    import spark.implicits._
    val n = cfg.docs
    val nBatch = math.max(1, n / 100)
    def dir(d: String) = cfg.work.resolve(d).toString
    var bench: DataFrame = null
    val inputIds = mutable.HashMap[String, Set[Long]]()
    val keptIds = mutable.HashMap[String, Set[Long]]()
    def pass(in: String, out: String, c: Pipeline.CurationConfig = config): Unit =
      Pipeline.curate(spark.read.parquet(dir(in)), "doc_id", "text", c,
        benchmark = Some((bench, "bench_id", "text"))).write.mode("overwrite").parquet(dir(out))
    // the kept id set is the same on every pass and a subset of the input
    def checkKept(in: String, out: String): Unit = op("curate-check") {
      val kept = spark.read.parquet(dir(out)).select("doc_id").as[Long].collect().toSet
      check(kept.nonEmpty && kept.subsetOf(inputIds(in)), s"curate of $in kept ids outside the input")
      keptIds.get(in) match {
        case Some(prev) => check(prev == kept, s"curate of $in kept a different id set")
        case None =>
          keptIds(in) = kept
          inputs.put(s"$in-kept", kept.size)
      }
    }

    // Set-up, once: generate the corpus and the batch, write both as the
    // pipeline's Parquet input, and run the first (cold) pass over each.
    // Those passes are the product's share of set-up; a process is cold
    // only once, so the set-up is not repeated.
    setup {
      val (all, benchRows) = gen.curationCorpus(n + nBatch)
      bench = benchRows.toDF("bench_id", "text")
      Seq("corpus" -> all.take(n), "batch" -> all.drop(n)).foreach { case (in, docs) =>
        docs.toDF("doc_id", "text").write.mode("overwrite").parquet(dir(in))
        inputIds(in) = docs.map(_._1).toSet
        inputs.put(s"$in-docs", docs.size)
        inputs.put(s"$in-text_bytes", docs.map(_._2.getBytes("UTF-8").length.toLong).sum)
      }
      inputs.put("benchmark_docs", benchRows.size)
      op("curate")(pass("corpus", "corpus-out"))
      op("curate-batch")(pass("batch", "batch-out"))
    }
    checkKept("corpus", "corpus-out")
    checkKept("batch", "batch-out")
    val gc0 = gcTotals
    // traced runs alternate traced and plain steps, at least traced, plain,
    // traced, so that a warming trend cancels out of the tracing overhead
    loop(cfg.seconds, minSteps = if (cfg.traced) 3 else 1) { p =>
      traceToggle(p)
      val ((), ms) = timed(op("curate") {
        val (_, s) = traced("operators.curate")(pass("corpus", "corpus-out"))
        s.foreach(sparkCounts("curate", _))
      }.getOrElse(()))
      sample("curate_ms", ms)
      overheadSample(ms)
      checkKept("corpus", "corpus-out")
      layerSample("operators.curate.kept_frac", keptIds("corpus").size.toDouble / n)
      // a batch pass is short and fixed-cost bound: two per step
      for (_ <- 0 until 2) {
        val (_, bms) = timed(op("curate-batch")(traced("operators.curate_batch")(pass("batch", "batch-out"))))
        sample("curate_batch_ms", bms)
        checkKept("batch", "batch-out")
      }
    }
    traceToggle(0)
    if (cfg.traced) stageConfigs.foreach { case (stage, c) =>
      val (_, s) = traced(s"operators.curate.$stage")(
        Pipeline.curate(spark.read.parquet(dir("corpus")), "doc_id", "text", c,
          benchmark = if (c.decontaminateSubstrLen.isDefined) Some((bench, "bench_id", "text")) else None)
          .write.format("noop").mode("overwrite").save())
      layerSample(s"operators.curate.${stage}_ms", s.get.wallMs)
    }
    def mean(k: String) = samples(k).sum / samples(k).size
    Body(Seq("op_ms" -> (mean("curate_ms"), "ms"), "batch_ms" -> (mean("curate_batch_ms"), "ms")),
      Seq("curate_docs_per_s" -> (n / (mean("curate_ms") / 1000), "docs/s"),
        "curate_batch_docs_per_s" -> (nBatch / (mean("curate_batch_ms") / 1000), "docs/s")), gc0)
  }
}
