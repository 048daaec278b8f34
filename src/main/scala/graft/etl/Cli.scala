package graft.etl

import org.apache.spark.sql.AnalysisException

import graft.core.Sessions

/** CLI ≙ reference cli.py — except actually wired to the pipeline (the
  * reference's `run` is a TODO stub, cli.py:18–21; SURVEY §3.1).
  *
  * Usage:
  *   run --month 2025-12 --raw-dir D --curated-dir D --reference-dir D
  *       [--fail-on ERROR|WARN|NEVER] [--star-dir D] [--bi-dir D]
  *       [--dashboard F.html]
  *   generate --raw-dir D --reference-dir D --month 2025-12 [--seed N]
  *   stream-demo --events-dir D   # file-source structured stream, prints
  *                                # hourly windows as they complete
  *   curate --documents D --out D [--threshold 0.5] [--quality-gate false]
  *       # corpus curation: (optional gate) → LSH near-dup dedup
  *       # keep-one → deterministic splits; writes parquet partitioned
  *       # by split. Pass --quality-gate true to drop low-quality docs
  *       # before dedup (off by default).
  *   index --documents D --out D  # persist the LSH dedup index
  *   curate-inc --documents D --index seg0[,seg1,…] --append-segment D
  *       --out D [--threshold 0.5] [--quality-gate false]
  *       # incremental batch curation against persisted index segments;
  *       # survivors' signatures land as a new segment for the next run
  *   compact-segments --segments seg0[,seg1,…] --out D
  *       # fold index segments into one segment at a fresh path
  *   posting-index --documents D --out D [--salt-chunk N]
  *       # persist the x4/x20/x28 prefix-filter posting index
  *       # (Corpus.writePostingIndex layout: docs + postings)
  *   ann-index --embeddings D --out D  # train + persist the IVF-PQ index
  *   ann-append --index D --embeddings D
  *       # FAISS add(): fold new vectors into a persisted index with no
  *       # retrain (existing centroids + codebooks)
  *   pagerank --edges D --out D [--nodes D] [--iters N | --eps 1e-8]
  *       # Corpus.pageRank over any (src, dst) edge parquet; nodes
  *       # default to the edge endpoints; converges unless --iters given
  *   cluster-update --clusters D --documents D --index seg0[,seg1,…]
  *       --out D [--threshold 0.5] [--append-segment D]
  *       # fold a batch into existing dedup cluster labels
  *       # (Corpus.updateClusters — equals the full rebuild)
  *   zorder --in D --out D --by c1,c2 [--files 16]
  *       # rewrite parquet z-ordered on two columns for file skipping
  *   vacuum --snapshots D [--keep 7]
  *       # retention-sweep versioned snapshot dirs (v_N), newest kept
  *   gc-segments --segments D --committed N
  *       # reclaim managed index artifacts (seg_/cmp_) unreachable by
  *       # any replay of batches > N (the checkpoint-committed horizon)
  *   frame-index --documents D --out D
  *       # persist the multimodal frame-hash index (rep postings +
  *       # per-media evidence sets — Multimodal.writeFrameIndex layout)
  *   curate-media-inc --documents D --index seg0[,seg1,…]
  *       --append-segment D --out D [--min-shared 2]
  *       # incremental media dedup against persisted frame segments;
  *       # survivors' reps+sets evidence lands as a new segment
  *   version
  *
  * A missing required option, a dangling `--flag` or a stray token is
  * rejected with an IllegalArgumentException naming it and the
  * subcommand.
  */
object Cli {
  private val name = "finance-etl-spark"
  private val version = "0.1.0"

  /** Run `body` with a session, stopping it ONLY if this call created
    * it: `Sessions.local` is getOrCreate, so when the CLI is invoked
    * inside a JVM that already owns an active session (tests, notebook
    * embedding), stopping would kill the caller's session out from
    * under them. Reuse also APPLIES graft's runtime SQL confs onto the
    * caller's session (getOrCreate semantics), so on the way out we
    * restore every runtime conf to its pre-call value — the caller's
    * shuffle sizing/AQE settings must not silently change because a CLI
    * subcommand ran in their JVM.
    */
  private def withSession[T](body: org.apache.spark.sql.SparkSession => T): T = {
    val pre = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
    val before = pre.map(_.conf.getAll)
    val spark = Sessions.local(name)
    val owned = !pre.contains(spark)
    try body(spark)
    finally {
      if (owned) spark.stop()
      else before.foreach { b =>
        val now = spark.conf.getAll
        (now.keySet ++ b.keySet).foreach { k =>
          (b.get(k), now.get(k)) match {
            // Spark refuses runtime changes to static and core confs
            // (AnalysisException); getOrCreate cannot have changed them
            case (Some(v), cur) if !cur.contains(v) =>
              try spark.conf.set(k, v) catch { case _: AnalysisException => () }
            case (None, Some(_)) =>
              try spark.conf.unset(k) catch { case _: AnalysisException => () }
            case _ => ()
          }
        }
      }
    }
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("version") => println(s"$name $version")
    case Some("generate") =>
      val opts = parse(args)
      SampleData.write(opts("raw-dir"), opts("month"),
        opts.getOrElse("seed", "42").toLong,
        opts.getOrElse("scale", "1").toInt)
      SampleData.writeChartOfAccounts(opts("reference-dir"))
      println(s"generated raw month ${opts("month")} under ${opts("raw-dir")}")
    case Some("run") =>
      val opts = parse(args)
      withSession { spark =>
        val out = Pipeline.runMonth(spark, Settings(),
          opts("month"), opts("raw-dir"), opts("curated-dir"), opts("reference-dir"),
          opts.getOrElse("fail-on", FailOn.Error))
        println(s"dq_exceptions=${out.dqExceptions}")
        println(s"dq_summary=${out.dqSummary}")
        println(s"fact=${out.fact}")
        println(s"dim_accounts=${out.dimAccounts}")
        println(s"kpi=${out.kpi}")
        // the three curated outputs, read once for every exporter
        val (fact, dim, kpi) = (spark.read.parquet(out.fact),
          spark.read.parquet(out.dimAccounts), spark.read.parquet(out.kpi))
        opts.get("star-dir").foreach { dir =>
          StarSchema.export(spark, fact, dim, kpi, opts("month"), dir)
          println(s"star=$dir")
        }
        opts.get("bi-dir").foreach { dir =>
          BiExport.export(spark, fact, dim, kpi, out.dqExceptions, out.dqSummary,
            opts("month"), dir)
          println(s"bi=$dir")
        }
        opts.get("dashboard").foreach { path =>
          val html = Dashboard.buildHtml(spark, fact, dim, kpi,
            spark.read.option("header", "true").csv(out.dqExceptions),
            spark.read.option("header", "true").csv(out.dqSummary),
            opts("month"))
          Dashboard.write(path, html)
          println(s"dashboard=$path")
        }
      }
    case Some("curate") =>
      val opts = parse(args)
      withSession { spark =>
        val curated = graft.corpus.Corpus.curate(
          spark.read.parquet(opts("documents")),
          opts.getOrElse("threshold", "0.5").toDouble,
          opts.getOrElse("quality-gate", "false").toBoolean)
        EtlIO.writePartitionedParquet(curated, opts("out"), Seq("split"))
        println(s"curated=${opts("out")}")
      }
    case Some("index") =>
      val opts = parse(args)
      withSession { spark =>
        graft.corpus.Corpus.writeLshIndex(
          spark.read.parquet(opts("documents")), opts("out"))
        println(s"index=${opts("out")}")
      }
    case Some("curate-inc") =>
      val opts = parse(args)
      withSession { spark =>
        val curated = graft.corpus.Corpus.curateIncremental(
          spark.read.parquet(opts("documents")),
          opts("index").split(",").toSeq,
          opts("append-segment"),
          opts.getOrElse("threshold", "0.5").toDouble,
          opts.getOrElse("quality-gate", "false").toBoolean)
        EtlIO.writePartitionedParquet(curated, opts("out"), Seq("split"))
        println(s"curated=${opts("out")} segment=${opts("append-segment")}")
      }
    case Some("compact-segments") =>
      val opts = parse(args)
      withSession { spark =>
        graft.corpus.Corpus.compactSegments(spark,
          opts("segments").split(",").toSeq, opts("out"))
        println(s"compacted=${opts("out")}")
      }
    case Some("posting-index") =>
      val opts = parse(args)
      withSession { spark =>
        graft.corpus.Corpus.writePostingIndex(
          spark.read.parquet(opts("documents")), opts("out"),
          opts.getOrElse("salt-chunk", "1024").toLong)
        println(s"posting-index=${opts("out")}")
      }
    case Some("ann-index") =>
      val opts = parse(args)
      withSession { spark =>
        graft.ann.AnnIndex.write(
          spark.read.parquet(opts("embeddings")), opts("out"))
        println(s"ann-index=${opts("out")}")
      }
    case Some("ann-append") =>
      val opts = parse(args)
      withSession { spark =>
        graft.ann.AnnIndex.append(spark, opts("index"),
          spark.read.parquet(opts("embeddings")))
        println(s"ann-append=${opts("index")}")
      }
    case Some("pagerank") =>
      val opts = parse(args)
      withSession { spark =>
        import org.apache.spark.sql.functions.col
        val edges = spark.read.parquet(opts("edges"))
        val Seq(sCol, dCol) = edges.columns.take(2).toSeq
        val nodes = opts.get("nodes")
          .map(p => spark.read.parquet(p))
          .getOrElse(edges.select(col(sCol).as("id"))
            .union(edges.select(col(dCol).as("id"))).distinct())
        val (ranks, rounds) = opts.get("iters") match {
          case Some(n) =>
            (graft.corpus.Corpus.pageRank(nodes, edges, n.toInt), n.toInt)
          case None => graft.corpus.Corpus.pageRankConverged(nodes, edges,
            opts.getOrElse("eps", "1e-8").toDouble)
        }
        EtlIO.writeParquet(ranks, opts("out"))
        println(s"pagerank=${opts("out")} rounds=$rounds")
      }
    case Some("cluster-update") =>
      val opts = parse(args)
      withSession { spark =>
        val (updated, rounds) = graft.corpus.Corpus.updateClustersWithStats(
          spark.read.parquet(opts("clusters")),
          spark.read.parquet(opts("documents")),
          opts("index").split(",").toSeq,
          opts.getOrElse("threshold", "0.5").toDouble)
        EtlIO.writeParquet(updated, opts("out"))
        opts.get("append-segment").foreach { seg =>
          graft.corpus.Corpus.writeLshIndex(
            spark.read.parquet(opts("documents")), seg)
        }
        println(s"clusters=${opts("out")} rounds=$rounds")
      }
    case Some("zorder") =>
      val opts = parse(args)
      withSession { spark =>
        val Array(c1, c2) = opts("by").split(",")
        graft.core.Layout.zorderWrite(
          spark.read.parquet(opts("in")), opts("out"), c1, c2,
          opts.getOrElse("files", "16").toInt)
        println(s"zorder=${opts("out")} by=$c1,$c2")
      }
    case Some("vacuum") =>
      val opts = parse(args)
      val deleted = graft.streaming.StreamingOps.vacuumSnapshotVersions(
        opts("snapshots"), opts.getOrElse("keep", "7").toInt)
      println(s"vacuum=${opts("snapshots")} deleted=${deleted.mkString(",")}")
    case Some("gc-segments") =>
      // the operational triad's third leg beside compact-segments and
      // vacuum: reclaim index artifacts no legal replay can reach.
      // --committed is the newest batch the stream's CHECKPOINT has
      // committed — passing a too-new id would take artifacts a pending
      // replay still needs (see StreamingOps.gcSegments scaladoc).
      val opts = parse(args)
      val gone = graft.streaming.StreamingOps.gcSegments(
        opts("segments"), opts("committed").toLong)
      println(s"gc-segments=${opts("segments")} deleted=${gone.size} " +
        s"watermark=${graft.streaming.StreamingOps.gcWatermark(opts("segments")).getOrElse(-1L)}")
    case Some("frame-index") =>
      val opts = parse(args)
      withSession { spark =>
        graft.multimodal.Multimodal.writeFrameIndex(spark,
          spark.read.parquet(opts("documents")), opts("out"))
        println(s"frame-index=${opts("out")}")
      }
    case Some("curate-media-inc") =>
      val opts = parse(args)
      withSession { spark =>
        val survivors = graft.multimodal.Multimodal.curateMediaIncremental(
          spark.read.parquet(opts("documents")),
          opts("index").split(",").toSeq.filter(_.nonEmpty),
          opts("append-segment"),
          opts.getOrElse("min-shared", "2").toInt)
        EtlIO.writeParquet(survivors, opts("out"))
        println(s"curate-media-inc=${opts("out")} " +
          s"survivors=${spark.read.parquet(opts("out")).count()} " +
          s"segment=${opts("append-segment")}")
      }
    case Some("stream-demo") =>
      val opts = parse(args)
      withSession { spark =>
        val schema = spark.read.parquet(opts("events-dir")).schema
        val stream = spark.readStream.schema(schema).parquet(opts("events-dir"))
        val events = graft.core.Tables.normalizeEventTs(stream)
        val q = graft.streaming.StreamingOps.tumblingByType(events)
          .writeStream.format("console").outputMode("complete")
          .option("numRows", 10).option("truncate", "false").start()
        q.processAllAvailable()
        q.stop()
        println("stream-demo=done")
      }
    case _ =>
      System.err.println(
        "usage: run|generate|curate|curate-inc|index|compact-segments|posting-index|" +
          "ann-index|ann-append|pagerank|cluster-update|zorder|vacuum|gc-segments|" +
          "frame-index|curate-media-inc|stream-demo|version (see Scaladoc)")
      sys.exit(2)
  }

  /** `--key value` pairs after the subcommand `args(0)`; looking up a
    * missing key throws
    */
  private def parse(args: Array[String]): Map[String, String] = {
    val cmd = args(0)
    def bad(why: String) = throw new IllegalArgumentException(s"$cmd: $why")
    args.tail.grouped(2).map {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
      case Array(k, _*) if k.startsWith("--") => bad(s"option $k has no value")
      case Array(t, _*) => bad(s"unexpected argument $t")
    }.toMap.withDefault(k => bad(s"missing required option --$k"))
  }
}
