package graft

import graft.plans.{Orchestrator, PipelineSpec, SpecDirWatcher}
import java.io.PrintStream
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** CLI runner — the engine's equivalent of the reference's control plane +
  * daemon (SURVEY §2.4: "our equivalent = JSON pipeline-spec files + CLI
  * runner"). Desired state is a directory of spec files; every invocation
  * reconciles running pipelines against it (hash-diff), exactly like a
  * control-plane push to `myceliald`.
  *
  *   graft run <spec.json> [<spec2.json> ...]   run pipelines once
  *   graft reconcile <specDir>                  reconcile *.json in a dir
  *     (both exit 1 when a pipeline failed past its retries)
  *   graft watch <specDir> [intervalMs]         reconcile in a LOOP (daemon)
  *   graft validate <spec.json>                 parse + validate only
  */
object Main {

  /** Apply desired state once (`run` / `reconcile`) and return the exit
    * code: 0 when every component this round started or kept has
    * succeeded, 1 otherwise. Each failed component's hash prefix and cause
    * chain go to `err` — the orchestrator has already retried it, so the
    * failure is final for this invocation. */
  def reconcileOnce(orch: Orchestrator, specs: Seq[PipelineSpec],
                    out: PrintStream = System.out,
                    err: PrintStream = System.err): Int = {
    val (started, kept, stopped) = orch.reconcile(specs)
    out.println(s"started=${started.size} kept=${kept.size} stopped=${stopped.size}")
    val failed = (started ++ kept).toSeq.sorted.flatMap { h =>
      orch.stateOf(h).collect { case Orchestrator.Failed(e) => h -> e }
    }
    failed.foreach { case (h, e) =>
      err.println(s"failed ${h.take(12)}: ${Orchestrator.causeChain(e)}")
    }
    if (failed.isEmpty) 0 else 1
  }

  private def reconcileCommand(specs: => Seq[PipelineSpec]): Unit = {
    val spark = Engine.session()
    val code = try reconcileOnce(new Orchestrator(spark), specs)
    finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: files if files.nonEmpty =>
      reconcileCommand(files.map(f => PipelineSpec.fromJson(readFile(Paths.get(f)))))

    case "reconcile" :: dir :: Nil =>
      reconcileCommand(Files.list(Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".json")).toSeq.sortBy(_.toString)
        .map(p => PipelineSpec.fromJson(readFile(p))))

    // the daemon mode (reference `myceliald/src/scheduler.rs:403-485`):
    // poll the dir, hash-diff reconcile, supervise, loop — vs `reconcile`,
    // which applies desired state once per invocation. GRAFT_WATCH_ROUNDS
    // bounds the loop (tests / cron-style supervision); default = forever.
    case "watch" :: dir :: rest if rest.size <= 1 =>
      val intervalMs = rest.headOption.map(_.toLong).getOrElse(5000L)
      val spark = Engine.session()
      try {
        val watcher = new SpecDirWatcher(new Orchestrator(spark), Paths.get(dir))
        val rounds = sys.env.get("GRAFT_WATCH_ROUNDS").map(_.toInt)
          .getOrElse(Int.MaxValue)
        // optional push channel (GRAFT_WS=host:port): RefetchGraph wakes
        // the loop for an immediate reconcile; the poll interval stays
        // as the correctness fallback (reference daemons hold the same
        // wss connection to the control plane)
        val wake = new Object
        sys.env.get("GRAFT_WS").foreach { hp =>
          val Array(h, p) = hp.split(":", 2)
          val client = new graft.plans.SpecPushWsClient(h, p.toInt,
            onMessage = _ => wake.synchronized { wake.notifyAll() },
            token = sys.env.get("GRAFT_PUSH_TOKEN"))
          val t = new Thread(() => client.run(() => false), "graft-ws-client")
          t.setDaemon(true); t.start()
        }
        watcher.watch(intervalMs, maxRounds = rounds, wake = Some(wake))
      } finally spark.stop()

    // DIR-LESS daemon mode: no shared filesystem with the control plane —
    // the spec graph arrives over the push websocket (GetGraph /
    // GetGraphResponse, the reference daemon-socket exchange) into a
    // private local dir, and the same SpecDirWatcher reconcile loop runs
    // it. `graft serve`'s ws listener (HTTP port + 1) is the other end.
    case "daemon" :: host :: wsPort :: rest if rest.size <= 1 =>
      val spark = Engine.session()
      try {
        val localDir = rest.headOption.map(Paths.get(_)).getOrElse(
          Files.createTempDirectory("graft_daemon_specs"))
        val watcher = new SpecDirWatcher(new Orchestrator(spark), localDir)
        val wake = new Object
        val daemon = new graft.plans.GraphSyncDaemon(host, wsPort.toInt,
          localDir, onSync = () => wake.synchronized { wake.notifyAll() },
          token = sys.env.get("GRAFT_PUSH_TOKEN"),
          // joined identity for the control plane's presence tracking
          // (GET /daemon Online/Offline + last_seen)
          daemonId = sys.env.get("GRAFT_DAEMON_ID"))
        daemon.start()
        println(s"[graft daemon] syncing $host:$wsPort -> $localDir")
        val rounds = sys.env.get("GRAFT_WATCH_ROUNDS").map(_.toInt)
          .getOrElse(Int.MaxValue)
        try watcher.watch(intervalMs = 5000L, maxRounds = rounds,
          wake = Some(wake))
        finally daemon.stop()
      } finally spark.stop()

    case "validate" :: file :: Nil =>
      val spec = PipelineSpec.fromJson(readFile(Paths.get(file)))
      println(s"ok components=${spec.components.size} hash=${spec.specHash.take(12)}")

    // human-facing spec rendering: ALWAYS secret-redacted (reference
    // `#[derive(Configuration)]` strips secrets for display,
    // `config/src/lib.rs:14-26`)
    case "show" :: file :: Nil =>
      println(PipelineSpec.display(PipelineSpec.fromJson(readFile(Paths.get(file)))))

    // watch + spec-push endpoint: the daemon-api parity mode — specs
    // arrive over HTTP into the watched dir and reconcile on the next
    // poll (reference control_plane/src/http/daemon_api/mod.rs:117-148)
    case "serve" :: dir :: rest if rest.size <= 2 =>
      val port = rest.headOption.map(_.toInt).getOrElse(8181)
      val intervalMs = rest.drop(1).headOption.map(_.toLong).getOrElse(5000L)
      val spark = Engine.session()
      val orch = new Orchestrator(spark)
      // push auth: GRAFT_PUSH_TOKEN gates PUT/POST/DELETE (reference
      // daemons join the control plane with tokens); unset = open
      // loopback socket, the pre-auth behavior
      // control-plane state (tokens, daemons, workspaces) lives beside
      // the specs in a dot-dir the watcher's *.json listing never sees;
      // the optional CA keystore enables the daemon-join CSR signing
      // (GRAFT_CA_KEYSTORE/GRAFT_CA_STOREPASS/GRAFT_CA_ALIAS — typically
      // the same store whose cert anchors the mTLS truststore)
      val ca = sys.env.get("GRAFT_CA_KEYSTORE").map(ks =>
        graft.plans.ControlPlane.CaConfig(Paths.get(ks),
          sys.env.getOrElse("GRAFT_CA_STOREPASS", ""),
          sys.env.getOrElse("GRAFT_CA_ALIAS", "ca")))
      val cp = new graft.plans.ControlPlane(
        Paths.get(dir).resolve(".control"), ca)
      // websocket push channel: spec mutations broadcast RefetchGraph so
      // connected daemons reconcile immediately; the poll loop below
      // stays as the fallback for daemons that never connect. The
      // graphProvider serves GetGraph in-band (secret-real), so a
      // dir-less GraphSyncDaemon bootstraps purely off this socket.
      // presence registry: ws connects/disconnects flip Online/Offline in
      // GET /daemon and stamp last_seen (the reference's DaemonTracker)
      val presence = new graft.plans.DaemonPresence(cp)
      val ws = new graft.plans.SpecPushWs(
        port = if (port == 0) 0 else port + 1,
        token = sys.env.get("GRAFT_PUSH_TOKEN"),
        graphProvider = Some(() =>
          graft.plans.GraphSync.graphResponseJson(Paths.get(dir))),
        presence = Some(presence))
      val server = new graft.plans.SpecPushServer(Paths.get(dir), port,
        status = Some(() => orch.snapshot),
        token = sys.env.get("GRAFT_PUSH_TOKEN"),
        control = Some(cp),
        onChange = Some(() => ws.broadcast(ws.RefetchGraph)),
        presence = Some(presence))
      try {
        server.start()
        ws.start()
        println(s"[graft serve] listening on ${server.boundPort} " +
          s"(ws push on ${ws.boundPort}), watching $dir")
        val watcher = new SpecDirWatcher(orch, Paths.get(dir))
        val rounds = sys.env.get("GRAFT_WATCH_ROUNDS").map(_.toInt)
          .getOrElse(Int.MaxValue)
        watcher.watch(intervalMs, maxRounds = rounds)
      } finally { server.stop(); ws.stop(); spark.stop() }

    // the reference exposes section names + IO kinds for UI forms
    // (`config_registry/src/lib.rs:26-39`); this is the CLI equivalent
    case "sections" :: Nil =>
      graft.plans.SectionRegistry.entries.toSeq.sortBy(_._1)
        .foreach { case (name, e) =>
          println(f"$name%-32s ${e.io.input}%-16s -> ${e.io.output}")
        }

    // plan inspection: print a registered query's physical plan against
    // a testdata dir — the .explain("formatted") loop made a command
    case "explain" :: name :: rest if rest.size <= 1 =>
      val spark = Engine.session()
      try {
        val dir = rest.headOption.getOrElse("/root/testdata/sf0.001")
        val q = graft.Queries.all.toMap.getOrElse(name,
          { System.err.println(s"unknown query '$name' — see: " +
              graft.Queries.all.map(_._1).mkString(", "))
            sys.exit(2) })
        q.fn(spark, dir).explain("formatted")
      } finally spark.stop()

    // lake maintenance: small-file compaction (atomic, row-count-guarded)
    case "compact" :: path :: rest if rest.size <= 1 =>
      val spark = Engine.session()
      try {
        val target = rest.headOption.map(_.toInt).getOrElse(128)
        val (before, after, rows) =
          graft.sources.Layout.compactParquet(spark, path, target)
        println(s"[graft compact] $path: $before -> $after files, $rows rows")
      } finally spark.stop()

    // lake maintenance: Z-order rewrite for multi-column file pruning
    case "zorder" :: inPath :: outPath :: cols :: files :: Nil =>
      val spark = Engine.session()
      try {
        graft.sources.Layout.zorderParquet(spark.read.parquet(inPath),
          outPath, cols.split(",").map(_.trim).toSeq, files.toInt)
        println(s"[graft zorder] $inPath -> $outPath clustered on $cols")
      } finally spark.stop()

    // one-shot physical replication catch-up: db(s) -> replica dir,
    // cursor persisted under stateDir (re-run to ship only changes)
    case "replicate" :: db :: replicaDir :: rest if rest.size <= 1 =>
      val spark = Engine.session()
      try {
        val store = new graft.plans.StateStore(
          rest.headOption.getOrElse(s"$replicaDir/.graft_state"))
        val n = graft.sources.SqliteReplication.catchUp(spark, store,
          "cli", "replicate", db)(
          graft.sources.SqliteReplication.applySnapshots(_, replicaDir))
        println(s"[graft replicate] $db -> $replicaDir: $n page rows shipped")
      } finally spark.stop()

    // tokenizer training from the CLI — the nightly model job: train on
    // a corpus, write the serving store(s); encode jobs (bpe_encode /
    // unigram_encode / pack_token_ids sections, graft_* SQL functions)
    // serve them with zero retraining
    case "tokenize" :: docsPath :: outDir :: rest if rest.size <= 2 =>
      val tokenizer = rest.headOption.getOrElse("unigram")
      val vocabSize = rest.drop(1).headOption.map(_.toInt).getOrElse(200)
      val spark = Engine.session()
      try {
        val docs = spark.read.parquet(docsPath)
        tokenizer match {
          case "unigram" =>
            graft.functions.Unigram.vocabWrite(
              graft.operators.Corpus.unigramTrain(docs, vocabSize),
              s"$outDir/unigram_vocab", spark)
            println(s"[graft tokenize] unigram vocab($vocabSize) -> " +
              s"$outDir/unigram_vocab")
          case "bpe" =>
            val merges = graft.operators.Corpus.bpeTrain(docs,
              maxMerges = vocabSize)
            graft.functions.Bpe.mergesWrite(merges, s"$outDir/bpe_merges", spark)
            graft.functions.Bpe.vocabWrite(
              graft.functions.Bpe.vocabFromMerges(merges,
                graft.operators.Corpus.bpeAlphabet(docs)),
              s"$outDir/bpe_vocab", spark)
            println(s"[graft tokenize] bpe merges($vocabSize) -> " +
              s"$outDir/bpe_merges + $outDir/bpe_vocab")
          case other =>
            System.err.println(s"unknown tokenizer '$other' (unigram | bpe)")
            sys.exit(2)
        }
      } finally spark.stop()

    case _ =>
      System.err.println("usage: graft run <spec.json>... | reconcile <dir> | " +
        "watch <dir> [intervalMs] | serve <dir> [port] [intervalMs] | " +
        "daemon <host> <wsPort> [localDir] | " +
        "validate <spec.json> | show <spec.json> | sections | " +
        "explain <query> [sfDir] | " +
        "compact <path> [targetMB] | zorder <in> <out> <cols> <files> | " +
        "replicate <dbGlob> <replicaDir> [stateDir] | " +
        "tokenize <docs.parquet> <outDir> [unigram|bpe] [vocabSize]")
      sys.exit(2)
  }

  private def readFile(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")
}
