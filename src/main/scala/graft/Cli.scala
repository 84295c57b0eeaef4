package graft

import graft.cdc.{Envelope, ReplicatePipeline}
import graft.config.GraftConfig
import graft.control.StatsServer
import graft.replicate.{Replicator, ReplicatorRegistry}
import graft.schema.FieldSpec
import graft.snapshot.Archiver
import org.apache.spark.sql.SparkSession

/** Command-line dispatcher, mirroring the reference's cobra commands
  * (SURVEY.md §3):
  *
  *   graft.Cli snapshot -c config.yml [--id ID]
  *   graft.Cli replicate --source postgres://…|mongodb://…
  *       --target kafka://host:port/topic --id <ID> --checkpoint <dir>
  *       [--port N] [--once]
  *   graft.Cli schema-generate --ddl "CREATE TABLE ..."
  *
  * `replicate --once` drains all available input and exits (offline/test
  * mode); without it the stream runs until SIGTERM, with the control-plane
  * HTTP server exposed on --port.
  */
object Cli {

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      String.valueOf(Runtime.getRuntime.availableProcessors()))
    GraftSession.create(
      master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"),
      shufflePartitions = Some(cpus.trim.toInt))
  }

  private val booleanFlags = Set("once", "gzip")

  /** Flag parser that keeps alignment across valueless flags (--once can
    * appear in any position).
    */
  private def parseFlags(args: Seq[String]): Map[String, String] = {
    @annotation.tailrec
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => acc
        case k :: tail if k.startsWith("-") &&
            booleanFlags.contains(k.dropWhile(_ == '-')) =>
          go(tail, acc + (k.dropWhile(_ == '-') -> "true"))
        case k :: v :: tail if k.startsWith("-") =>
          go(tail, acc + (k.dropWhile(_ == '-') -> v))
        case other :: tail =>
          System.err.println(s"ignoring unexpected argument: $other")
          go(tail, acc)
      }
    go(args.toList, Map.empty)
  }

  /** The one comma-list parser for every --x-cols / --keys / --steps
    * style flag: trims each segment and drops empties, so
    * `--x-cols 'a, b'` resolves column `b`, not the confusing ` b`
    * (the uplift-mode convention applied everywhere). */
  private def splitCols(s: String): Seq[String] =
    s.split(",").toSeq.map(_.trim).filter(_.nonEmpty)

  /** `replicate` on a caller-owned session (the reference's URL form,
    * `replicate.go:82-120`): the `--source` scheme picks the DSv2 source,
    * whose changes become Debezium envelopes named `--id` and go to
    * `--target` over [[ReplicatePipeline.startToKafkaWire]], resuming from
    * `--checkpoint` (each start hands the checkpointed offset to the
    * source client). `--id` also keys the source's transport/cursor
    * registry. Flags are checked before any query starts; the running
    * replicator is registered with the control plane. */
  def startReplicator(spark: SparkSession, flags: Map[String, String]): Replicator = {
    def req(k: String) = flags.getOrElse(k,
      throw new IllegalArgumentException(s"replicate: missing --$k"))
    val id = req("id")
    val (provider, connector, options) = replicateSource(req("source"), id)
    val (host, port, topic) = kafkaTarget(req("target"))
    val checkpoint = req("checkpoint")
    lazy val repl: Replicator = new Replicator(id, spark, s => {
      val resume = ReplicatePipeline.checkpointedOffset(s, checkpoint)
        .flatMap(resumeOption(connector, _))
      ReplicatePipeline.startToKafkaWire(Envelope.toKafkaFrame(
          s.readStream.format(provider).options(options ++ resume).load(), connector, id),
        host, port, topic, checkpoint,
        onError = (b, e) => repl.stats.recordWriteError(b, e))
    })
    ReplicatorRegistry.register(repl)
    repl.start()
    repl
  }

  /** A checkpointed offset as the client's start option: an LSN, or a
    * non-empty resume token. */
  private def resumeOption(connector: String, offset: String): Option[(String, String)] =
    if (connector == "postgresql") Some("pg.start.lsn" -> offset)
    else Some("mongo.resume.after" -> offset).filter(_._2.nonEmpty)

  /** Percent-decode one URL part; `+` stays a plus (not form encoding). */
  private def urlDecode(s: String): String =
    java.net.URLDecoder.decode(s.replace("+", "%2B"), java.nio.charset.StandardCharsets.UTF_8)

  /** A `--source`/`--target` URL and its query, split on the raw `&`,
    * `=` before each part is percent-decoded (so `%26`, `%3D` stay in a
    * value); a query key outside `known` or a missing host is rejected. */
  private def replicateUrl(flag: String, url: String,
      known: Set[String]): (java.net.URI, Map[String, String]) = {
    val u = new java.net.URI(url)
    val query = Option(u.getRawQuery).toSeq.flatMap(_.split("&")).filter(_.nonEmpty)
      .map(_.split("=", 2).map(urlDecode))
      .map(kv => kv(0) -> kv.lift(1).getOrElse("")).toMap
    query.keys.find(!known(_)).foreach(k => throw new IllegalArgumentException(
      s"replicate: unknown query key '$k' in --$flag $url"))
    require(u.getHost != null, s"replicate: --$flag $url names no host")
    (u, query)
  }

  /** `--source` -> (DSv2 provider, envelope connector, stream options):
    * `postgres://user:pw@host:port/db?slot=…&publication=…` maps onto
    * [[graft.sources.PgOutputWalClient]]'s `pg.*` options,
    * `mongodb://user:pw@host:port/db?collection=…` onto
    * [[graft.sources.ChangeStreamTokenClient]]'s `mongo.*` options. */
  private[graft] def replicateSource(url: String,
      id: String): (String, String, Map[String, String]) = {
    def options(prefix: String, known: Set[String], defaultPort: Int,
        fixed: (String, String)*): Map[String, String] = {
      val (u, query) = replicateUrl("source", url, known)
      // split the raw user info on its first ':', then decode each part
      val userInfo = Option(u.getRawUserInfo).toSeq.flatMap(_.split(":", 2)).map(urlDecode)
      fixed.toMap ++ Map(s"$prefix.host" -> u.getHost, s"$prefix.port" ->
          (if (u.getPort >= 0) u.getPort else defaultPort).toString) ++
        Seq(s"$prefix.user", s"$prefix.password").zip(userInfo) ++
        Option(u.getPath).map(_.stripPrefix("/")).filter(_.nonEmpty)
          .map(s"$prefix.database" -> _) ++
        query.map { case (k, v) => s"$prefix.$k" -> v }
    }
    Option(new java.net.URI(url).getScheme).getOrElse("") match {
      case "postgres" =>
        ("graft.sources.CdcSourceProvider", "postgresql",
          options("pg", Set("slot", "publication"), 5432, "pg.transport.id" -> id,
            "wal.client" -> "graft.sources.PgOutputWalClient"))
      case "mongodb" =>
        val opts = options("mongo", Set("collection"), 27017, "stream.cursor.id" -> id,
          "stream.client" -> "graft.sources.ChangeStreamTokenClient")
        require(opts.contains("mongo.collection"),
          s"replicate: --source $url names no ?collection=")
        ("graft.sources.TokenStreamProvider", "mongodb", opts)
      case other => throw new IllegalArgumentException(
        s"replicate: unknown --source scheme '$other' in $url (postgres|mongodb)")
    }
  }

  /** `--target kafka://host:port/topic` -> (host, port, topic). */
  private[graft] def kafkaTarget(url: String): (String, Int, String) = {
    val scheme = new java.net.URI(url).getScheme
    require(scheme == "kafka",
      s"replicate: unknown --target scheme '$scheme' in $url (kafka)")
    val (u, _) = replicateUrl("target", url, known = Set.empty)
    val topic = Option(u.getPath).getOrElse("").stripPrefix("/")
    require(topic.nonEmpty,
      s"replicate: --target $url names no topic (kafka://host:port/topic)")
    (u.getHost, if (u.getPort >= 0) u.getPort else 9092, topic)
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "snapshot" :: rest =>
      val flags = parseFlags(rest)
      val cfgPath = flags.getOrElse("c", flags.getOrElse("config",
        sys.error("snapshot: missing -c <config.yml>")))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val id = flags.getOrElse("id", java.util.UUID.randomUUID().toString)
        val catalog = Archiver.snapshot(spark, GraftConfig.fromFile(cfgPath), id)
        println(
          s"""{"id":"${catalog.id}","num_source_records":${catalog.numSourceRecords},""" +
          s""""num_records_processed":${catalog.numRecordsProcessed},"success":${catalog.success}}""")
        if (!catalog.success) sys.exit(1)
      } finally spark.stop()

    case "replicate" :: rest =>
      val flags = parseFlags(rest)
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      val repl =
        try startReplicator(spark, flags)
        catch { case e: Throwable => spark.stop(); throw e }
      if (flags.contains("once")) {
        repl.processAllAvailable()
        repl.stop()
        println(repl.stateJson)
        spark.stop()
      } else {
        val server = new StatsServer(flags.getOrElse("port", "8080").toInt)
        val port = server.start()
        println(s"""{"id":"${repl.id}","control":"http://localhost:$port/api/v1/replicators"}""")
        sys.addShutdownHook { server.stop(); spark.stop() }
        spark.streams.awaitAnyTermination()
      }

    case "fixtures" :: rest =>
      val flags = parseFlags(rest)
      val n = flags.getOrElse("records", "1000").toLong
      val out = flags.getOrElse("out", sys.error("fixtures: missing --out <dir>"))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        graft.tools.Fixtures.write(spark, n, out)
        println(s"""{"table":"property_sales","records":$n,"out":"$out"}""")
      } finally spark.stop()

    // training-data pipeline verbs: corpus in (parquet dir + table), corpus
    // out, JSON audit line on stdout — the operational form of ops/*.
    case "curate" :: rest =>
      val flags = parseFlags(rest)
      def req(k: String) = flags.getOrElse(k, sys.error(s"curate: missing --$k"))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val docs = spark.read.parquet(s"${req("in")}/${req("table")}.parquet")
        val idCol = flags.getOrElse("id-col", "doc_id")
        val textCol = flags.getOrElse("text-col", "text")
        val gated =
          if (flags.getOrElse("gopher", "false") == "true")
            graft.ops.TextAnalysis.gopherFilter(docs, idCol, textCol)
          else graft.ops.Curation.qualityFilter(docs, textCol,
            flags.getOrElse("min-tokens", "20").toInt,
            flags.getOrElse("max-tokens", "5000").toInt,
            flags.getOrElse("max-punct", "0.2").toDouble)
        val deduped = graft.ops.Dedup.exactKeepFirst(gated, Seq(textCol), idCol)
        val cleaned = flags.get("bench") match {
          case Some(benchPath) =>
            val bench = spark.read.parquet(benchPath)
            graft.ops.Decontamination.decontaminate(deduped, idCol, textCol,
              bench, textCol, n = flags.getOrElse("ngram", "8").toInt)
          case None => deduped
        }
        val out = req("out")
        cleaned.write.mode("overwrite").parquet(out)
        println(s"""{"in":${docs.count()},"kept":${spark.read.parquet(out).count()},"out":"$out"}""")
      } finally spark.stop()

    case "dedup" :: rest =>
      val flags = parseFlags(rest)
      def req(k: String) = flags.getOrElse(k, sys.error(s"dedup: missing --$k"))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val docs = spark.read.parquet(s"${req("in")}/${req("table")}.parquet")
        val idCol = flags.getOrElse("id-col", "doc_id")
        val textCol = flags.getOrElse("text-col", "text")
        val kept = flags.getOrElse("mode", "exact") match {
          case "exact" => graft.ops.Dedup.exactKeepFirst(docs, Seq(textCol), idCol)
          case "minhash" => graft.ops.Dedup.minhashDedup(docs, idCol, textCol,
            threshold = flags.getOrElse("threshold", "0.8").toDouble)
          // transitive-closure variant: one survivor per connected near-dup
          // cluster (chains collapse fully; greedy minhash keeps local minima)
          case "cc" => graft.ops.Dedup.dedupByComponents(docs, idCol,
            graft.ops.Dedup.minhashPairs(docs, idCol, textCol,
              threshold = flags.getOrElse("threshold", "0.8").toDouble))
          case other => sys.error(s"dedup: unknown --mode $other (exact|minhash|cc)")
        }
        val out = req("out")
        kept.write.mode("overwrite").parquet(out)
        println(s"""{"in":${docs.count()},"kept":${spark.read.parquet(out).count()},"out":"$out"}""")
      } finally spark.stop()

    case "score" :: rest =>
      val flags = parseFlags(rest)
      def req(k: String) = flags.getOrElse(k, sys.error(s"score: missing --$k"))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val docs = spark.read.parquet(s"${req("in")}/${req("table")}.parquet")
        val idCol = flags.getOrElse("id-col", "doc_id")
        val textCol = flags.getOrElse("text-col", "text")
        // target = a column predicate, e.g. --target "lang = 'en'"
        val target = org.apache.spark.sql.functions.expr(
          flags.getOrElse("target", "lang = 'en'"))
        val scored = flags.get("buckets") match {
          case Some(b) => graft.ops.Importance.dsirScoresHashed(docs, idCol,
            textCol, target, ngram = flags.getOrElse("ngram", "1").toInt,
            buckets = b.toInt)
          case None => graft.ops.Importance.dsirScores(docs, idCol, textCol, target)
        }
        val out = req("out")
        scored.write.mode("overwrite").parquet(out)
        println(s"""{"scored":${spark.read.parquet(out).count()},"out":"$out"}""")
      } finally spark.stop()

    case "mixture" :: rest =>
      val flags = parseFlags(rest)
      def req(k: String) = flags.getOrElse(k, sys.error(s"mixture: missing --$k"))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        import org.apache.spark.sql.functions.{col, sum}
        val docs = spark.read.parquet(s"${req("in")}/${req("table")}.parquet")
        val domainCol = flags.getOrElse("domain-col", "lang")
        val textCol = flags.getOrElse("text-col", "text")
        val perDomain = docs.groupBy(col(domainCol))
          .agg(sum(graft.ops.TextAnalysis.tokenCount(col(textCol))
            .cast("long")).as("n_tokens"))
        val mix = graft.ops.Sampling.temperatureMixture(perDomain, domainCol,
          "n_tokens", tau = flags.getOrElse("tau", "0.7").toDouble,
          tokenBudget = flags.getOrElse("budget", "1000000").toLong)
        // domains number in the dozens — a JSON line per domain is the audit
        mix.orderBy(col(domainCol)).collect().foreach { r =>
          println(s"""{"domain":"${r.get(0)}","n_tokens":${r.getLong(1)},""" +
            s""""weight":${r.getDouble(2)},"epochs":${r.getDouble(3)}}""")
        }
      } finally spark.stop()

    case "import" :: rest =>
      // crawl-archive ingestion: WARC shards -> a parquet table of
      // (record_id, warc_type, content_type, headers, payload), block
      // digests verified during the read
      val flags = parseFlags(rest)
      def reqI(k: String) = flags.getOrElse(k, sys.error(s"import: missing --$k"))
      val sparkI = session()
      sparkI.sparkContext.setLogLevel("WARN")
      try {
        val df = graft.sources.Warc.read(sparkI, reqI("in"))
          .drop("path")
        df.write.mode("overwrite").parquet(reqI("out"))
        val n = sparkI.read.parquet(reqI("out")).count()
        println(s"""{"records":$n,"out":"${reqI("out")}"}""")
      } finally sparkI.stop()

    case "export" :: rest =>
      val flags = parseFlags(rest)
      def req(k: String) = flags.getOrElse(k, sys.error(s"export: missing --$k"))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        import org.apache.spark.sql.functions.{col, struct, to_json}
        val docs = spark.read.parquet(s"${req("in")}/${req("table")}.parquet")
        val perShard = flags.getOrElse("records-per-shard", "8192").toInt
        // payload = the whole row as JSON (a loader-agnostic default)
        val json = to_json(struct(docs.columns.map(col): _*)).cast("binary")
        val manifest = flags.getOrElse("format", "tfrecord") match {
          case "tfrecord" =>
            graft.ops.TfRecords.writeShards(
              docs.select(json.as("payload")), "payload", req("out"), perShard)
          case "tar" => // WebDataset layout: one <id>.json member per row
            val idCol = flags.getOrElse("id", "doc_id")
            graft.ops.WebDataset.writeShards(
              docs.select(col(idCol), json.as("json")), idCol,
              Seq("json" -> "json"), req("out"), perShard)
          case "warc" => // crawl-format records, digest-labelled
            val idCol = flags.getOrElse("id", "doc_id")
            graft.sources.Warc.writeShards(
              docs.select(col(idCol), json.as("payload")), idCol, "payload",
              req("out"), perShard,
              gzip = flags.get("gzip").exists(_ != "false"))
          case other => sys.error(s"export: unknown --format $other (tfrecord|tar|warc)")
        }
        val rows = manifest.collect()
        val total = rows.map(_.getLong(1)).sum
        println(s"""{"shards":${rows.length},"records":$total,"out":"${req("out")}"}""")
      } finally spark.stop()

    // incremental snapshot release (ops/Release):
    //   release init    --docs <parquet> --index <dir>
    //   release run     --old <parquet> --new <parquet> --index <dir>
    //                   --out <dir> [--min-tokens N] [--dedup-threshold T]
    //                   [--hash-cols a,b,c]
    //                   [--kn-model <dir> [--max-nll X]]
    //   release compact --index <dir>
    // `run` diffs old->new, gates added/changed docs by token count —
    // and, when --kn-model names a persisted Retrieval.saveKnModel
    // directory, by reference-model perplexity too (nll <= --max-nll;
    // the CCNet quality gate riding the train-once model, no reference
    // pass per release) — dedups them against the accumulated index
    // when a threshold is given (every CLI gate only filters, so the
    // probe's bands are reused), updates the index, and writes the
    // per-id disposition.
    case "release" :: "init" :: rest =>
      val flags = parseFlags(rest)
      def req(k: String) = flags.getOrElse(k, sys.error(s"release init: missing --$k"))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        graft.ops.Release.initReferenceIndex(
          spark.read.parquet(req("docs")),
          flags.getOrElse("id-col", "doc_id"),
          flags.getOrElse("text-col", "text"), req("index"))
        val n = graft.ops.Release.readReferenceBands(spark, req("index"))
          .select("id").distinct().count()
        println(s"""{"indexed_docs":$n,"index":"${req("index")}"}""")
      } finally spark.stop()

    case "release" :: "run" :: rest =>
      val flags = parseFlags(rest)
      def req(k: String) = flags.getOrElse(k, sys.error(s"release run: missing --$k"))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        import org.apache.spark.sql.functions.col
        val idCol = flags.getOrElse("id-col", "doc_id")
        val textCol = flags.getOrElse("text-col", "text")
        val hashCols = flags.get("hash-cols")
          .map(splitCols).getOrElse(Seq(textCol))
        val minTokens = flags.getOrElse("min-tokens", "1").toInt
        val tokenGate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
          df => df.filter(
            graft.ops.TextAnalysis.tokenCount(col(textCol)) >= minTokens)
        val gate = flags.get("kn-model") match {
          case Some(mp) =>
            graft.ops.Release.knPerplexityGate(
              graft.ops.Retrieval.loadKnModel(spark, mp),
              flags.getOrElse("max-nll", "1e300").toDouble,
              idCol, textCol, base = tokenGate,
              modified = flags.get("kn-modified").exists(_.toBoolean))
          case None => tokenGate
        }
        val disp = graft.ops.Release.incrementalRelease(
          spark.read.parquet(req("old")), spark.read.parquet(req("new")),
          idCol, textCol, hashCols, gate, req("index"),
          dedupThreshold = flags.get("dedup-threshold").map(_.toDouble),
          gatePreservesText = true) // every CLI gate only filters
        val out = req("out")
        disp.write.mode("overwrite").parquet(out)
        // audit: one JSON line per (status, deduped, indexed) cell
        spark.read.parquet(out)
          .groupBy(col("status"), col("deduped"), col("indexed"))
          .count().orderBy(col("status"), col("deduped")).collect()
          .foreach { r =>
            println(s"""{"status":"${r.getString(0)}","deduped":${r.getBoolean(1)},""" +
              s""""indexed":${r.getBoolean(2)},"n":${r.getLong(3)}}""")
          }
      } finally spark.stop()

    // train + persist a reference KN model (Retrieval.knModel ->
    // saveKnModel): the train-once side of the score-many economics —
    //   lm-train --docs <parquet> --out <dir> [--where "lang = 'en'"]
    //            [--order N] [--prune C]
    case "lm-train" :: rest =>
      val flags = parseFlags(rest)
      def req(k: String) = flags.getOrElse(k, sys.error(s"lm-train: missing --$k"))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val docs0 = spark.read.parquet(req("docs"))
        val docs = flags.get("where") match {
          case Some(p) => docs0.filter(org.apache.spark.sql.functions.expr(p))
          case None => docs0
        }
        val m = graft.ops.Retrieval.knModel(docs,
          flags.getOrElse("text-col", "text"),
          order = flags.getOrElse("order", "3").toInt,
          pruneMinTopCount = flags.getOrElse("prune", "1").toLong)
        graft.ops.Retrieval.saveKnModel(m, req("out"))
        println(s"""{"order":${m.order},"top_types":${m.top.count()},""" +
          s""""btypes":${m.btypes},"out":"${req("out")}"}""")
      } finally spark.stop()

    // batch-score a corpus against a persisted KN model — the
    // score-many side (one parquet row per doc: n_ngrams, n_unseen,
    // nll); --modified scores with the Chen-Goodman count-class
    // discounts (the KenLM estimator):
    //   lm-score --docs <parquet> --model <dir> --out <dir>
    //            [--id-col doc_id] [--text-col text] [--modified true]
    case "lm-score" :: rest =>
      val flags = parseFlags(rest)
      def req(k: String) = flags.getOrElse(k, sys.error(s"lm-score: missing --$k"))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val m = graft.ops.Retrieval.loadKnModel(spark, req("model"))
        val docs = spark.read.parquet(req("docs"))
        val idCol = flags.getOrElse("id-col", "doc_id")
        val textCol = flags.getOrElse("text-col", "text")
        val scored =
          if (flags.get("modified").exists(_.toBoolean))
            graft.ops.Retrieval.knNgramNllModAgainstModel(
              docs, idCol, textCol, m)
          else graft.ops.Retrieval.knNgramNllAgainstModel(
            docs, idCol, textCol, m)
        val out = req("out")
        scored.write.mode("overwrite").parquet(out)
        val n = spark.read.parquet(out).count()
        println(s"""{"order":${m.order},"scored_docs":$n,"out":"$out"}""")
      } finally spark.stop()

    case "release" :: "compact" :: rest =>
      val flags = parseFlags(rest)
      def req(k: String) = flags.getOrElse(k, sys.error(s"release compact: missing --$k"))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        graft.ops.Release.compactIndex(spark, req("index"))
        val n = spark.read.parquet(s"${req("index")}/bands").count()
        println(s"""{"band_rows":$n,"index":"${req("index")}"}""")
      } finally spark.stop()

    case "index" :: rest =>
      val flags = parseFlags(rest)
      def req(k: String) = flags.getOrElse(k, sys.error(s"index: missing --$k"))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val docs = spark.read.parquet(s"${req("in")}/${req("table")}.parquet")
        val idCol = flags.getOrElse("id-col", "doc_id")
        val textCol = flags.getOrElse("text-col", "text")
        val buckets = flags.getOrElse("buckets", "64").toInt
        val out = req("out")
        val postings = graft.ops.Invert.postings(docs, idCol, textCol)
        graft.ops.Invert.writeIndex(postings, s"$out/postings", buckets)
        // derive doc lengths from the parquet just written — the lazy
        // postings plan would re-run the full corpus aggregate
        val written = spark.read.parquet(s"$out/postings")
        graft.ops.Invert.docLengths(written)
          .write.mode("overwrite").parquet(s"$out/doclen")
        println(s"""{"postings":${written.count()},"buckets":$buckets,"out":"$out"}""")
      } finally spark.stop()

    case "tokenize" :: rest =>
      val flags = parseFlags(rest)
      def req(k: String) = flags.getOrElse(k, sys.error(s"tokenize: missing --$k"))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val docs = spark.read.parquet(s"${req("in")}/${req("table")}.parquet")
        val idCol = flags.getOrElse("id-col", "doc_id")
        val textCol = flags.getOrElse("text-col", "text")
        val numMerges = flags.getOrElse("merges", "200").toInt
        val out = req("out")
        import org.apache.spark.sql.functions.{col, explode, split}
        val merges = graft.ops.Tokenize.trainBpeMerges(docs, textCol, numMerges)
        // vocab = the corpus's character alphabet (so no char is OOV)
        // followed by merge products in rank order (the q90 layout)
        val chars = graft.ops.Tokenize.wordVocab(docs, textCol)
          .select(explode(split(col("w"), "")).as("c")).distinct()
          .collect().map(_.getString(0)).filter(_.nonEmpty).sorted.toSeq
        val vocab = chars ++ merges.map { case (a, b) => a + b }
        graft.ops.Tokenize.bpeTokenIds(docs, idCol, textCol, merges, vocab)
          .write.mode("overwrite").parquet(s"$out/token_ids")
        val mergesJson = merges.map { case (a, b) =>
          s"""["${a.replace("\"", "\\\"")}","${b.replace("\"", "\\\"")}"]"""
        }.mkString("[", ",", "]")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$out/merges.json"), mergesJson)
        println(s"""{"merges":${merges.length},"vocab":${vocab.length},"out":"$out"}""")
      } finally spark.stop()

    case "index-merge" :: rest =>
      val flags = parseFlags(rest)
      def req(k: String) = flags.getOrElse(k, sys.error(s"index-merge: missing --$k"))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val base = graft.ops.Invert.readIndex(spark, s"${req("index")}/postings")
        val delta = spark.read.parquet(s"${req("in")}/${req("table")}.parquet")
        val idCol = flags.getOrElse("id-col", "doc_id")
        val textCol = flags.getOrElse("text-col", "text")
        val buckets = flags.getOrElse("buckets", "64").toInt
        val out = req("out")
        val merged = graft.ops.Invert.mergePostings(base,
          graft.ops.Invert.postings(delta, idCol, textCol))
        graft.ops.Invert.writeIndex(merged, s"$out/postings", buckets)
        val written = spark.read.parquet(s"$out/postings")
        graft.ops.Invert.docLengths(written)
          .write.mode("overwrite").parquet(s"$out/doclen")
        println(s"""{"postings":${written.count()},"delta_docs":${
          delta.count()},"buckets":$buckets,"out":"$out"}""")
      } finally spark.stop()

    case "search" :: rest =>
      val flags = parseFlags(rest)
      def req(k: String) = flags.getOrElse(k, sys.error(s"search: missing --$k"))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val idx = graft.ops.Invert.readIndex(spark, s"${req("index")}/postings")
        val buckets = flags.getOrElse("buckets", "64").toInt
        val terms = req("terms").split("\\s+").toSeq
        val hits = flags.getOrElse("mode", "phrase") match {
          case "phrase" => graft.ops.Invert.phraseSearchIndex(idx, terms, buckets)
          case "proximity" => graft.ops.Invert.proximitySearch(idx, terms,
            flags.getOrElse("window", "8").toInt, buckets)
          case "bm25" =>
            val dl = spark.read.parquet(s"${req("index")}/doclen")
            graft.ops.Invert.bm25FromIndex(idx, dl, terms,
              flags.getOrElse("k", "10").toInt, nBuckets = buckets)
          case other => sys.error(s"search: unknown --mode $other")
        }
        val rows = hits.limit(flags.getOrElse("limit", "100").toInt).collect()
        rows.foreach(r => println(r.mkString("\t")))
        println(s"""{"hits":${rows.length},"mode":${
          "\"" + flags.getOrElse("mode", "phrase") + "\""}}""")
      } finally spark.stop()

    case "rank" :: rest =>
      val flags = parseFlags(rest)
      def req(k: String) = flags.getOrElse(k, sys.error(s"rank: missing --$k"))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        import org.apache.spark.sql.functions.col
        val docs = spark.read.parquet(
          s"${req("in")}/${flags.getOrElse("table", "documents")}.parquet")
        val idCol = flags.getOrElse("id-col", "doc_id")
        val textCol = flags.getOrElse("text-col", "text")
        val terms = req("terms").split("\\s+").toSeq
        val k = flags.getOrElse("k", "10").toInt
        val ranked = flags.getOrElse("mode", "bm25") match {
          case "bm25" =>
            graft.ops.Retrieval.bm25TopK(docs, idCol, textCol, terms, k)
          case "ql" =>
            graft.ops.Retrieval.queryLikelihoodTopK(docs, idCol, textCol,
              terms, k, flags.getOrElse("mu", "2000").toDouble)
          case "rrf" => // lexical + dense fusion: needs the embeddings side
            val emb = spark.read.parquet(
              s"${req("in")}/${flags.getOrElse("emb-table", "embeddings")}.parquet")
            val eId = flags.getOrElse("emb-id-col", "vec_id")
            val qv = emb.filter(col(eId) === req("query-id").toLong)
              .head().getSeq[Float](1)
            graft.ops.Retrieval.hybridRrf(docs, idCol, textCol,
              emb, eId, flags.getOrElse("vec-col", "embedding"),
              terms, qv, k, flags.getOrElse("rrf-k", "60").toInt,
              flags.getOrElse("candidates", "50").toInt)
          case other => sys.error(s"rank: unknown --mode $other")
        }
        val rows = ranked.collect()
        rows.foreach(r => println(r.mkString("\t")))
        println(s"""{"hits":${rows.length},"mode":"${
          flags.getOrElse("mode", "bm25")}"}""")
      } finally spark.stop()

    case "pca" :: "train" :: rest =>
      val flags = parseFlags(rest)
      def req(k: String) = flags.getOrElse(k, sys.error(s"pca train: missing --$k"))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val emb = spark.read.parquet(
          s"${req("in")}/${flags.getOrElse("table", "embeddings")}.parquet")
        val m = graft.ops.Projection.trainPca(emb,
          flags.getOrElse("vec-col", "embedding"),
          flags.getOrElse("k", "8").toInt)
        graft.ops.Projection.savePcaModel(spark, m, req("model"))
        println(s"""{"dim":${m.dim},"k":${m.k},"n":${m.n},""" +
          s""""top_eigenvalue":${m.eigenvalues.head},""" +
          s""""orthonormality_residual":${m.orthonormalityResidual},""" +
          s""""model":"${req("model")}"}""")
      } finally spark.stop()

    case "pca" :: "project" :: rest =>
      val flags = parseFlags(rest)
      def req(k: String) = flags.getOrElse(k, sys.error(s"pca project: missing --$k"))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        import org.apache.spark.sql.functions.col
        val m = graft.ops.Projection.loadPcaModel(spark, req("model"))
        val vecCol = flags.getOrElse("vec-col", "embedding")
        val emb = spark.read.parquet(
          s"${req("in")}/${flags.getOrElse("table", "embeddings")}.parquet")
        val out = req("out")
        emb.withColumn(vecCol,
            graft.ops.Projection.pcaProject(col(vecCol), m,
              whiten = flags.get("whiten").exists(_.toBoolean)))
          .write.mode("overwrite").parquet(out)
        val n = spark.read.parquet(out).count()
        println(s"""{"projected":$n,"k":${m.k},"out":"$out"}""")
      } finally spark.stop()

    case "diff" :: rest =>
      val flags = parseFlags(rest)
      def req(k: String) = flags.getOrElse(k, sys.error(s"diff: missing --$k"))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val before = spark.read.parquet(req("before"))
        val after = spark.read.parquet(req("after"))
        val keys = splitCols(req("keys"))
        val compare = flags.get("compare")
          .map(splitCols)
          .getOrElse(before.columns.toSeq.filterNot(keys.contains))
        val delta = graft.snapshot.Diff.diff(before, after, keys, compare)
        delta.write.mode("overwrite").parquet(req("out"))
        // one aggregate pass over the delta-sized output for the audit
        val counts = spark.read.parquet(req("out"))
          .groupBy("op").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        println(s"""{"insert":${counts.getOrElse("insert", 0L)},""" +
          s""""delete":${counts.getOrElse("delete", 0L)},""" +
          s""""update":${counts.getOrElse("update", 0L)},"out":"${req("out")}"}""")
      } finally spark.stop()

    case "schema-generate" :: rest =>
      val flags = parseFlags(rest)
      val ddl = flags.getOrElse("ddl", sys.error("schema-generate: missing --ddl"))
      val fields = FieldSpec.fromDdl(ddl)
      // YAML fields block, like `librarian schema generate` (generate.go:45-51)
      println("fields:")
      fields.foreach { f =>
        val attrs = Seq(
          Some(s"name: ${f.name}"),
          Some(s"type: ${f.tpe}"),
          f.convertedType.map(ct => s"converted_type: $ct"),
          f.repetitionType.map(rt => s"repetition_type: $rt"),
          f.scale.map(s => s"scale: $s"),
          f.precision.map(p => s"length: $p")).flatten
        println(s"  - {${attrs.mkString(", ")}}")
      }

    // event-log / customer analytics over any parquet table: the q166+
    // operator family behind one dispatcher. Reads --in (a parquet file
    // or directory), writes the readout to --out, prints a 1-line JSON
    // summary. Column names override via --user/--type/--ts/--id-col.
    case "analyze" :: rest =>
      val flags = parseFlags(rest)
      def req(k: String) = flags.getOrElse(k, sys.error(s"analyze: missing --$k"))
      val spark = session()
      spark.sparkContext.setLogLevel("WARN")
      try {
        import org.apache.spark.sql.functions.col
        val dest = req("out") // fail fast, BEFORE any eager analysis job
        val df = spark.read.parquet(req("in"))
        val user = flags.getOrElse("user", "user_id")
        val typ = flags.getOrElse("type", "event_type")
        val ts = flags.getOrElse("ts", "ts")
        val id = flags.getOrElse("id-col", "event_id")
        val out = flags.getOrElse("mode", "funnel") match {
          case "funnel" =>
            val steps = splitCols(req("steps"))
            flags.get("within-ms") match {
              case Some(ms) => graft.ops.Events.funnelWithin(df, user, typ,
                ts, steps, ms.toLong)
              case None => graft.ops.Events.funnel(df, user, typ, ts, steps)
            }
          case "retention" =>
            graft.ops.Events.cohortRetention(df, user, ts)
          case "active" =>
            graft.ops.Events.rollingActiveUsers(df, user, ts,
              flags.getOrElse("window-days", "7").toInt)
          case "anomaly" =>
            graft.ops.Events.anomalousDays(df, typ, ts,
              flags.getOrElse("threshold", "3.5").toDouble)
          case "survival" =>
            graft.ops.Events.timeToEventSurvival(df, user, ts, typ,
              req("anchor"), req("target"))
          case "attribution" =>
            val conv = col(typ) === req("conversion")
            val look = flags.getOrElse("lookback-ms", "259200000").toLong
            if (flags.getOrElse("model", "touch") == "linear")
              graft.ops.Events.attributionLinear(df, user, typ, ts, id,
                conv, look)
            else graft.ops.Events.attribution(df, user, typ, ts, id,
              conv, look)
          case "paths" =>
            graft.ops.Events.topPaths(df, user, typ, ts, id,
              flags.getOrElse("len", "5").toInt,
              flags.getOrElse("k", "50").toInt)
          case "seasonality" =>
            graft.ops.Events.seasonalityProfile(df, typ, ts)
          case "trend" =>
            graft.ops.Events.theilSenTrend(df, typ, ts)
          case "changepoint" =>
            graft.ops.Events.cusumChangepoint(df, typ, ts)
          case "forecast" =>
            graft.ops.Events.sesForecast(df, typ, ts,
              flags.getOrElse("alpha", "0.3").toDouble)
          case "gini" =>
            graft.ops.Profile.giniLorenz(df, req("value-col"),
              flags.getOrElse("buckets", "10").toInt)
          case "rfm" =>
            graft.ops.Recommend.rfmSegments(df, req("cust-col"), ts,
              req("value-col"), flags.getOrElse("buckets", "5").toInt)
          case "benford" =>
            graft.ops.Profile.benford(df, req("value-col"))
          case "cuped" =>
            graft.ops.Events.cupedAdjust(df, req("variant-col"),
              req("y-col"), req("x-col"))
          case "ks" =>
            graft.ops.Profile.ksTest(df, req("group-col"), req("value-col"))
          case "mannwhitney" =>
            graft.ops.Profile.mannWhitney(df, req("group-col"),
              req("value-col"))
          case "cmh" =>
            graft.ops.Profile.cmhTest(df, req("stratum-col"),
              req("group-col"), req("conv-col"))
          case "did" =>
            graft.ops.Events.diffInDiff(df, req("group-col"),
              req("period-col"), req("y-col"))
          case "balance" =>
            graft.ops.Events.covariateBalance(df, req("group-col"),
              splitCols(req("covariates")))
          case "fdr" =>
            graft.ops.Profile.bhAdjust(df, req("p-col"))
          case "harmonic" =>
            val seeds = spark.read.parquet(req("seeds"))
            graft.ops.Graph.harmonicCentrality(df, req("src-col"),
              req("dst-col"), seeds, req("seed-col"),
              flags.getOrElse("max-hops", "3").toInt)
          case "pagerank" =>
            val iters = flags.getOrElse("iterations", "5").toInt
            flags.get("seeds") match {
              case Some(p) =>
                graft.ops.Graph.personalizedPageRank(df, req("src-col"),
                  req("dst-col"), spark.read.parquet(p), req("seed-col"),
                  iters)
              case None => graft.ops.Graph.pageRank(df, req("src-col"),
                req("dst-col"), iters)
            }
          case "ols" =>
            graft.ops.Events.olsAdjust(df, req("variant-col"),
              req("y-col"), splitCols(req("covariates")))
          case "did-adjusted" =>
            graft.ops.Events.didAdjusted(df, req("group-col"),
              req("period-col"), req("y-col"),
              flags.get("covariates").map(splitCols)
                .getOrElse(Seq.empty))
          case "bootstrap-diff" =>
            graft.ops.Profile.bootstrapCiMeanDiff(df, id,
              req("group-col"), req("value-col"),
              flags.getOrElse("replicas", "100").toInt)
          case "msprt" =>
            graft.ops.Profile.msprtTest(df, req("group-col"),
              req("value-col"), flags.getOrElse("tau", "1.0").toDouble)
          case "holtwinters" =>
            graft.ops.Events.holtWinters(df, typ, ts, req("start-day"),
              flags.getOrElse("num-days", "28").toInt,
              flags.getOrElse("season", "7").toInt,
              flags.getOrElse("alpha", "0.4").toDouble,
              flags.getOrElse("beta", "0.1").toDouble,
              flags.getOrElse("gamma", "0.2").toDouble)
          case "backtest" =>
            graft.ops.Events.holtWintersBacktest(df, typ, ts,
              req("start-day"),
              flags.getOrElse("num-days", "28").toInt,
              flags.getOrElse("season", "7").toInt,
              flags.getOrElse("alpha", "0.4").toDouble,
              flags.getOrElse("beta", "0.1").toDouble,
              flags.getOrElse("gamma", "0.2").toDouble)
          case "brier" =>
            graft.ops.Eval.brierDecomposition(df, req("score-col"),
              req("label-col"), flags.getOrElse("bins", "10").toInt)
          case "isotonic" =>
            graft.ops.Eval.isotonicCalibration(df, req("score-col"),
              req("label-col"), flags.getOrElse("bins", "10").toInt)
          case "modularity" =>
            val labels = spark.read.parquet(req("labels"))
            graft.ops.Graph.modularity(df, req("src-col"),
              req("dst-col"), labels, flags.getOrElse("node-col", "node"),
              flags.getOrElse("community-col", "community"))
          case "communities" =>
            graft.ops.Graph.labelPropagationModularityStopped(df,
              req("src-col"), req("dst-col"),
              flags.getOrElse("max-iterations", "10").toInt)
          case "wsssp" =>
            graft.ops.Graph.weightedDistances(df, req("src-col"),
              req("dst-col"), req("weight-col"),
              spark.read.parquet(req("seeds")), req("seed-col"),
              flags.getOrElse("max-hops", "4").toInt)
          case "betweenness" =>
            graft.ops.Graph.betweennessDependency(df, req("src-col"),
              req("dst-col"), spark.read.parquet(req("seeds")),
              req("seed-col"), flags.getOrElse("max-hops", "3").toInt)
          case "ktruss" =>
            graft.ops.Graph.kTruss(df, req("src-col"), req("dst-col"),
              flags.getOrElse("k", "4").toInt,
              flags.getOrElse("max-rounds", "12").toInt)
          case "logrank" =>
            graft.ops.Profile.logRankTest(df, req("group-col"),
              req("time-col"), req("event-col"))
          case "spearman" =>
            graft.ops.Profile.spearmanCorr(df, req("x-col"), req("y-col"))
          case "psi-drift" =>
            graft.ops.Profile.distributionDrift(
              spark.read.parquet(req("ref")), df, req("key-col"))
          case "acf" =>
            graft.ops.Events.acf(df, typ, ts,
              flags.getOrElse("max-lag", "7").toInt)
          case "logistic" =>
            graft.ops.Events.logisticFit(df, req("y-col"),
              splitCols(req("x-cols")),
              flags.getOrElse("iters", "6").toInt)
          case "ipw" =>
            graft.ops.Events.ipwAte(df, req("treat-col"), req("y-col"),
              splitCols(req("x-cols")),
              flags.getOrElse("iters", "6").toInt)
          case "aipw" =>
            graft.ops.Events.aipwAte(df, req("treat-col"), req("y-col"),
              splitCols(req("x-cols")),
              flags.getOrElse("iters", "6").toInt)
          case "lift" =>
            graft.ops.Eval.liftChart(df, req("score-col"),
              req("label-col"), req("id-col"),
              flags.getOrElse("buckets", "10").toInt)
          case "bleu" =>
            graft.ops.TextAnalysis.bleuCorpus(df, req("cand-col"),
              req("ref-col"), req("id-col"))
          case "rouge" =>
            graft.ops.TextAnalysis.rougeScores(df, req("cand-col"),
              req("ref-col"), req("id-col"))
          case "kendall" =>
            graft.ops.Profile.kendallTauB(df, req("x-col"), req("y-col"))
          case "kmcurves" =>
            graft.ops.Events.kmCurves(df, req("group-col"),
              req("time-col"), req("event-col"))
          case "poisson" =>
            graft.ops.Events.poissonFit(df, req("y-col"),
              splitCols(req("x-cols")),
              flags.getOrElse("iters", "8").toInt)
          case "keyness" =>
            graft.ops.TextAnalysis.keyness(df,
              spark.read.parquet(req("other")), req("text-col"),
              flags.getOrElse("k", "50").toInt)
          case "decompose" =>
            graft.ops.Events.seasonalDecompose(df, typ, ts)
          case "conformal" =>
            graft.ops.Eval.splitConformal(df, req("pred-col"),
              req("actual-col"), flags.getOrElse("alpha", "0.1").toDouble)
          case "embedding-drift" =>
            graft.ops.Similarity.centroidDrift(
              spark.read.parquet(req("ref")), df, req("vec-col"))
          case "matched-att" =>
            graft.ops.Events.matchedAte(df, id, req("treat-col"),
              req("y-col"), splitCols(req("x-cols")),
              flags.getOrElse("iters", "6").toInt,
              flags.getOrElse("caliper", "0.05").toDouble)
          case "qte" =>
            graft.ops.Profile.quantileTreatmentEffects(df,
              req("group-col"), req("value-col"))
          case "huber" =>
            graft.ops.Events.huberFit(df, req("y-col"),
              splitCols(req("x-cols")),
              flags.getOrElse("iters", "4").toInt)
          case "timedecay-attribution" =>
            graft.ops.Events.attributionTimeDecay(df, user, typ, ts, id,
              col(typ) === req("conversion"),
              flags.getOrElse("lookback-ms", "259200000").toLong,
              flags.getOrElse("halflife-ms", "86400000").toLong)
          case "markov-attribution" =>
            graft.ops.Events.markovAttribution(df, user, typ, ts, id,
              col(typ) === req("conversion"))
          case "ewma" =>
            graft.ops.Events.ewmaChart(df, typ, ts, req("start-day"),
              flags.getOrElse("days", "60").toInt,
              flags.getOrElse("lambda", "0.2").toDouble,
              flags.getOrElse("limit", "3.0").toDouble)
          case "cusum" =>
            graft.ops.Events.cusumMonitor(df, typ, ts, req("start-day"),
              flags.getOrElse("days", "60").toInt,
              flags.getOrElse("slack", "0.5").toDouble,
              flags.getOrElse("h", "4.0").toDouble)
          case "arfit" =>
            graft.ops.Events.arFit(df, typ, ts,
              flags.getOrElse("p", "3").toInt)
          case "arforecast" =>
            graft.ops.Events.arForecast(df, typ, ts,
              flags.getOrElse("p", "3").toInt,
              flags.getOrElse("horizon", "3").toInt)
          case "adf" =>
            graft.ops.Events.adfTest(df, req("order-col"),
              req("value-col"), flags.getOrElse("lags", "2").toInt)
          case "kpss" =>
            graft.ops.Events.kpssTest(df, req("order-col"),
              req("value-col"), flags.getOrElse("lags", "2").toInt)
          case "granger" =>
            graft.ops.Events.grangerTest(df, req("order-col"),
              req("y-col"), req("x-col"),
              flags.getOrElse("lags", "2").toInt)
          case "vif" =>
            graft.ops.Events.vif(df, splitCols(req("x-cols")))
          case "naive-bayes" =>
            graft.ops.Classify.naiveBayes(
              spark.read.parquet(req("train")), df, req("label-col"),
              req("text-col"), id)
          case "collocations" =>
            graft.ops.TextAnalysis.collocations(df, req("text-col"),
              flags.getOrElse("min-count", "5").toLong,
              flags.getOrElse("k", "50").toInt)
          case "dbscan" =>
            graft.ops.Similarity.dbscan(df, id, req("x-col"),
              req("y-col"), req("eps").toDouble,
              flags.getOrElse("min-pts", "5").toInt)
          case "hill" =>
            graft.ops.Profile.hillTail(df, req("value-col"),
              flags.getOrElse("k", "500").toInt)
          case "gumbel" =>
            graft.ops.Profile.gumbelFit(df,
              org.apache.spark.sql.functions.to_date(col(ts)),
              req("value-col"))
          case "concentration" =>
            graft.ops.Profile.concentration(df, req("entity-col"),
              req("value-col"))
          case "eb-shrink" =>
            graft.ops.Profile.ebShrinkRates(df, req("key-col"),
              col(typ) === req("success"))
          case "cohort-ltv" =>
            graft.ops.Events.cohortLtv(df, user, ts, req("value-col"),
              col(typ) === req("conversion"),
              flags.getOrElse("max-weeks", "52").toInt)
          case "sessionize" =>
            graft.ops.Events.sessionizeBatch(df, user, ts, id,
              flags.getOrElse("gap-ms", "1800000").toLong)
          case "two-proportion" =>
            graft.ops.Profile.twoProportionTest(df, req("group-col"),
              col(req("success-col")) === true)
          case "hbos" =>
            graft.ops.Profile.hbos(df, id,
              splitCols(req("x-cols")),
              flags.getOrElse("bins", "20").toInt,
              flags.getOrElse("k", "100").toInt)
          case "dm" =>
            graft.ops.Events.dmTest(df, req("order-col"), req("e1-col"),
              req("e2-col"), flags.getOrElse("lags", "2").toInt)
          case "ccf" =>
            graft.ops.Events.ccf(df, req("order-col"), req("x-col"),
              req("y-col"), flags.getOrElse("max-lag", "7").toInt)
          case "periodogram" =>
            graft.ops.Events.periodogram(df, req("order-col"),
              req("value-col"),
              splitCols(req("periods")).map(_.toInt))
          case "event-study" =>
            graft.ops.Events.eventStudy(df, typ, ts,
              req("intervention-day"),
              flags.getOrElse("window-days", "14").toInt)
          case "retention-halflife" =>
            graft.ops.Events.retentionHalfLife(df, user, ts)
          case "capture-recapture" =>
            graft.ops.Profile.captureRecapture(df,
              spark.read.parquet(req("other")), req("id-col"))
          case "cox" =>
            graft.ops.Events.coxPh(df, req("time-col"), req("event-col"),
              splitCols(req("x-cols")),
              flags.getOrElse("iters", "6").toInt)
          case "burstiness" =>
            graft.ops.Events.burstiness(df, typ, ts)
          case "heaps" =>
            graft.ops.TextAnalysis.heapsLaw(df, id, req("text-col"))
          case "topics" =>
            graft.ops.TextAnalysis.latentTopics(df, id,
              req("text-col"),
              flags.getOrElse("k", "4").toInt,
              flags.getOrElse("iters", "3").toInt,
              flags.getOrElse("vocab", "300").toInt,
              flags.getOrElse("top-terms", "10").toInt)
          case "topic-mixture" =>
            graft.ops.TextAnalysis.latentTopicMixture(df, id,
              req("text-col"),
              flags.getOrElse("k", "4").toInt,
              flags.getOrElse("iters", "3").toInt,
              flags.getOrElse("vocab", "300").toInt)
          case "sequences" =>
            graft.ops.Events.frequentSequences(df, user, typ, ts, id,
              flags.getOrElse("min-support", "100").toLong,
              flags.getOrElse("max-len", "3").toInt,
              flags.get("max-gap-events").map(_.toLong),
              flags.get("max-gap-ms").map(_.toLong))
          case "uplift" =>
            graft.ops.Events.upliftTLearner(df, req("treat-col"),
              req("y-col"), flags.get("x-cols")
                .map(splitCols)
                .getOrElse(Seq.empty), req("segment-col"))
          case "strength" =>
            graft.ops.Events.seasonalStrength(df, typ, ts)
          case "binseg" =>
            graft.ops.Events.binarySegmentation(df, typ, ts)
          case "quantile-reg" =>
            graft.ops.Events.quantileFit(df, req("y-col"),
              splitCols(req("x-cols")),
              flags.getOrElse("tau", "0.5").toDouble,
              flags.getOrElse("iters", "6").toInt)
          case "prob-best" =>
            graft.ops.Profile.probBest(df, req("group-col"),
              col(req("success-col")) === true,
              flags.getOrElse("grid", "4000").toInt)
          case "prob-best-k" =>
            graft.ops.Profile.probBestK(df, req("group-col"),
              col(req("success-col")) === true,
              flags.getOrElse("grid", "4000").toInt)
          case "rmst" =>
            graft.ops.Events.rmst(df, req("group-col"),
              req("time-col"), req("event-col"), req("tau").toDouble)
          case "competing-risks" =>
            graft.ops.Events.ajIncidence(df, req("group-col"),
              req("time-col"), req("cause-col"))
          case "rmtl" =>
            graft.ops.Events.rmtl(df, req("group-col"),
              req("time-col"), req("cause-col"), req("tau").toDouble)
          case "sequence-rules" =>
            graft.ops.Events.sequenceRules(df, user, typ, ts, id,
              flags.getOrElse("min-support", "100").toLong,
              flags.getOrElse("max-len", "3").toInt,
              flags.getOrElse("min-confidence", "0.0").toDouble,
              flags.get("max-gap-events").map(_.toLong),
              flags.get("max-gap-ms").map(_.toLong))
          case "cox-zph" =>
            graft.ops.Events.coxPhTest(df, req("time-col"),
              req("event-col"), splitCols(req("x-cols")),
              flags.getOrElse("iters", "6").toInt)
          case "cox-strata" =>
            graft.ops.Events.coxPhStratified(df, req("time-col"),
              req("event-col"), splitCols(req("x-cols")),
              req("strata-col"), flags.getOrElse("iters", "6").toInt)
          case "kruskal" =>
            graft.ops.Profile.kruskalWallis(df, req("group-col"),
              req("value-col"))
          case "item-similarity" =>
            graft.ops.Recommend.itemSimilarity(df, req("basket-col"),
              req("item-col"),
              flags.getOrElse("min-pair-count", "2").toLong,
              flags.getOrElse("top-k", "10").toInt,
              flags.getOrElse("max-basket", "1000").toInt)
          case "recommend" =>
            // users double as baskets: the history frame both builds
            // the neighbor lists and gets scored against them
            graft.ops.Recommend.recommendItems(df, user,
              req("item-col"),
              graft.ops.Recommend.itemSimilarity(df, user,
                req("item-col"),
                flags.getOrElse("min-pair-count", "2").toLong,
                flags.getOrElse("top-k", "10").toInt,
                flags.getOrElse("max-basket", "1000").toInt),
              flags.getOrElse("top-n", "10").toInt)
          case "ppmi-embeddings" =>
            graft.ops.TextAnalysis.ppmiEmbeddings(df,
              flags.getOrElse("text-col", "text"),
              flags.getOrElse("vocab", "300").toInt,
              flags.getOrElse("dim", "64").toInt)
          case "ppmi-neighbors" =>
            graft.ops.TextAnalysis.ppmiNeighbors(df,
              flags.getOrElse("text-col", "text"),
              flags.getOrElse("probes", "3").toInt,
              flags.getOrElse("top-k", "5").toInt,
              flags.getOrElse("vocab", "300").toInt,
              flags.getOrElse("dim", "64").toInt)
          case "ar-interval" =>
            graft.ops.Events.arForecastInterval(df, typ, ts,
              flags.getOrElse("p", "3").toInt,
              flags.getOrElse("horizon", "3").toInt,
              flags.getOrElse("ci-alpha", "0.05").toDouble)
          case "hw-interval" =>
            graft.ops.Events.holtWintersInterval(df, typ, ts,
              req("start-day"),
              flags.getOrElse("num-days", "28").toInt,
              flags.getOrElse("season", "7").toInt,
              flags.getOrElse("alpha", "0.4").toDouble,
              flags.getOrElse("beta", "0.1").toDouble,
              flags.getOrElse("gamma", "0.2").toDouble,
              flags.getOrElse("ci-alpha", "0.05").toDouble)
          case other => sys.error(s"analyze: unknown --mode $other")
        }
        out.write.mode("overwrite").parquet(dest)
        println(s"""{"mode":"${flags.getOrElse("mode", "funnel")}","rows":${spark.read.parquet(dest).count()},"out":"$dest"}""")
      } finally spark.stop()

    case other =>
      System.err.println(
        s"""unknown command: ${other.headOption.getOrElse("")}
           |usage:
           |  snapshot -c <config.yml> [--id ID]
           |  replicate --source postgres://u:pw@host/db?slot=s&publication=p|mongodb://u:pw@host/db?collection=c
           |         --target kafka://host:9092/topic --id <ID> --checkpoint <dir> [--port N] [--once]
           |  schema-generate --ddl "CREATE TABLE ..."
           |  fixtures --records N --out <dir>
           |  curate --in <sfdir> --table documents --out <dir>
           |         [--gopher true] [--bench <parquet>] [--ngram 8]
           |  dedup --in <sfdir> --table documents --out <dir> [--mode exact|minhash|cc]
           |  score --in <sfdir> --table documents --out <dir>
           |        [--target "lang = 'en'"] [--buckets N [--ngram 2]]
           |  mixture --in <sfdir> --table documents [--tau 0.7] [--budget N]
           |  import --in <glob of .warc[.gz]> --out <parquet dir>
           |         (digest-verified WARC -> parquet ingestion)
           |  export --in <sfdir> --table documents --out <dir> [--records-per-shard 8192]
           |         [--format tfrecord|tar|warc] [--id doc_id] [--gzip]
           |         (tar = WebDataset layout; warc = digest-labelled ISO 28500)
           |  tokenize --in <sfdir> --table documents --out <dir> [--merges 200]
           |         (trains a BPE merge table, writes token_ids + merges.json)
           |  index --in <sfdir> --table documents --out <dir> [--buckets 64]
           |  index-merge --index <dir> --in <sfdir> --table documents --out <dir>
           |         [--buckets 64]   (delta docs REPLACE same-id postings)
           |  search --index <dir> --terms "w1 w2" [--mode phrase|proximity|bm25]
           |         [--window 8] [--k 10] [--limit 100]
           |  rank --in <sfdir> --terms "w1 w2" [--mode bm25|ql|rrf] [--k 10]
           |         [--mu 2000] (rrf: --query-id N [--candidates 50])
           |  pca train --in <sfdir> --model <dir> [--k 8] [--vec-col embedding]
           |  pca project --model <dir> --in <sfdir> --out <dir> [--whiten true]
           |  lm-train --docs <parquet> --out <dir> [--order 3] [--where "lang = 'en'"]
           |  lm-score --docs <parquet> --model <dir> --out <dir> [--modified true]
           |  release init --docs <parquet> --index <dir>
           |  release run --old <parquet> --new <parquet> --index <dir> --out <dir>
           |         [--dedup-threshold 0.9] [--kn-model <dir> --max-nll N]
           |         [--min-tokens N]
           |  release compact --index <dir>
           |  diff --before <parquet> --after <parquet> --keys k1,k2 [--compare c1,c2] --out <dir>
           |  analyze --in <parquet> --out <dir> --mode funnel|retention|active|
           |         anomaly|survival|attribution|paths|seasonality|trend|
           |         changepoint|forecast|holtwinters|backtest|gini|rfm|
           |         benford|cuped|ols|did|did-adjusted|balance|ks|
           |         mannwhitney|cmh|fdr|bootstrap-diff|msprt|brier|isotonic|
           |         harmonic|pagerank|modularity|communities|wsssp|
           |         betweenness|ktruss|logrank|spearman|psi-drift|acf|
           |         logistic|ipw|aipw|lift|bleu|rouge|kendall|kmcurves|
           |         poisson|keyness|decompose|conformal|embedding-drift|
           |         matched-att|qte|huber|timedecay-attribution|
           |         markov-attribution|ewma|cusum|arfit|adf|kpss|granger|
           |         vif|naive-bayes|collocations|dbscan|hill|gumbel|
           |         concentration|eb-shrink|cohort-ltv|sessionize|
           |         two-proportion|hbos|dm|ccf|periodogram|event-study|
           |         retention-halflife|capture-recapture|cox|
           |         burstiness|heaps|arforecast|sequences|uplift|
           |         strength|binseg|quantile-reg|prob-best|rmst
           |         [--user u] [--type t] [--ts ts] [--id-col id]
           |         (funnel: --steps a,b,c [--within-ms N];
           |          survival: --anchor T --target T;
           |          attribution: --conversion T [--model linear];
           |          gini/benford: --value-col v; rfm: --cust-col c --value-col v;
           |          ols: --variant-col v --y-col y --covariates a,b;
           |          did-adjusted: --group-col g --period-col p --y-col y
           |            [--covariates a,b];
           |          bootstrap-diff: --group-col g --value-col v [--replicas N];
           |          holtwinters/backtest: --start-day YYYY-MM-DD
           |            [--num-days 28 --season 7 --alpha --beta --gamma];
           |          brier: --score-col s --label-col y [--bins 10];
           |          modularity: --src-col --dst-col --labels <parquet>;
           |          wsssp: adds --weight-col w --seeds <parquet> --seed-col k;
           |          betweenness: --src-col --dst-col --seeds <parquet>
           |            --seed-col k [--max-hops 3];
           |          logrank: --group-col g --time-col t --event-col e;
           |          spearman: --x-col x --y-col y;
           |          psi-drift: --ref <parquet> --key-col k;
           |          logistic/ipw/aipw: --y-col y --x-cols a,b
           |            [--treat-col t] [--iters 6];
           |          lift: --score-col s --label-col y --id-col id;
           |          bleu/rouge: --cand-col c --ref-col r --id-col id)"""
          .stripMargin)
      sys.exit(2)
  }
}
