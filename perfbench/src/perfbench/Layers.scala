package perfbench

/** The per-layer metrics of a traced run, named after the program's
  * modules. A layer the workload never calls reads 0. */
object Layers {
  val IngestStreams = Seq("warehouseAppendStream", "incrementalFtsIndex")
  /** Traced over untraced program time, minus one; run.py adds it from
    * the two runs it makes. */
  val Overhead = "trace.overhead_frac"

  def metrics(ls: Map[String, LayerStats], extra: Map[String, (Double, String)] = Map.empty)
      : Map[String, (Double, String)] = {
    def l(name: String) = ls.getOrElse(name, new LayerStats)
    def mb(b: Double) = b / 1048576.0
    val out = Seq.newBuilder[(String, (Double, String))]
    def put(name: String, v: Double, unit: String) = out += name -> ((v, unit))

    Fleet.ModuleNames.foreach { m =>
      val x = l(s"fleet.$m")
      put(s"fleet.$m.wall_s", x.wallNs / 1e9, "s")
      put(s"fleet.$m.plan_s", x.planMs / 1e3, "s")
      put(s"fleet.$m.jobs", x.jobs.toDouble, "count")
      put(s"fleet.$m.tasks", x.tasks.toDouble, "count")
      put(s"fleet.$m.task_s", x.taskMs / 1e3, "s")
      put(s"fleet.$m.shuffle_mb", mb(x.shuffleBytes.toDouble), "MB")
    }
    val f = l("fleet")
    put("fleet.jobs", f.jobs.toDouble, "count")
    put("fleet.stages", f.stages.toDouble, "count")
    put("fleet.tasks", f.tasks.toDouble, "count")
    put("fleet.plan_s", f.planMs / 1e3, "s")
    put("fleet.task_cpu_s", f.cpuNs / 1e9, "s")
    put("fleet.gc_s", f.gcMs / 1e3, "s")
    put("fleet.spill_mb", mb(f.spillBytes.toDouble), "MB")
    put("fleet.concurrency", if (f.wallNs > 0) f.taskMs * 1e6 / f.wallNs else 0.0, "ratio")
    put("fleet.skew", if (f.stages > 0) f.maxSkew else 0.0, "ratio")

    Portal.Kinds.foreach { k =>
      val x = l(s"portal.$k")
      put(s"portal.$k.jobs", x.jobs.toDouble, "count")
      put(s"portal.$k.tasks", x.tasks.toDouble, "count")
      put(s"portal.$k.plan_ms", x.planMs, "ms")
    }
    def hitRatio(layer: String) = {
      val c = l(layer).counters
      if (c("lookups") > 0) c("hits") / c("lookups") else 0.0
    }
    put("portal.cache.hit_ratio", hitRatio("portal.cache"), "ratio")

    val sync = l("ingest.Sync.runSyncBatch")
    put("ingest.Sync.runSyncBatch.wall_s", sync.wallNs / 1e9, "s")
    put("ingest.Sync.runSyncBatch.jobs", sync.jobs.toDouble, "count")
    put("ingest.Sync.runSyncBatch.fetches", sync.counters("fetches"), "count")
    put("ingest.Sync.runSyncBatch.useful_ratio",
      if (sync.counters("fetches") > 0) sync.counters("kept") / sync.counters("fetches") else 0.0, "ratio")
    IngestStreams.foreach { s =>
      val x = l(s"ingest.Streams.$s")
      put(s"ingest.Streams.$s.wall_s", x.wallNs / 1e9, "s")
      put(s"ingest.Streams.$s.jobs", x.jobs.toDouble, "count")
      put(s"ingest.Streams.$s.bytes_mb", mb(x.counters("bytes")), "MB")
    }
    Seq("ingest.Warehouse.compactAppendStore", "ingest.Fts.compactFtsIndex").foreach { n =>
      put(s"$n.wall_s", l(n).wallNs / 1e9, "s")
      put(s"$n.bytes_mb", mb(l(n).counters("bytes")), "MB")
    }
    put("ingest.reads.wall_s", l("ingest.reads").wallNs / 1e9, "s")
    put("ingest.cache.hit_ratio", hitRatio("ingest.cache"), "ratio")
    put("ingest.files", 0.0, "count")
    out.result().toMap ++ extra
  }
}
