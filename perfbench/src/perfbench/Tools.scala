package perfbench

/** `--mode inputs`: a digest of everything a workload generates from its
  * seed, so a test can show that one seed always gives the same inputs. */
object Inputs {
  private def sha(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def digest(workload: String, seed: Long, work: String): String = workload match {
    case "fleet" => sha(Fleet.sample.iterator.map(_._2.name))
    case "portal" =>
      val spark = Main.session(work)
      try {
        val r = new PortalRunner(spark, seed, work)
        r.setup(s"$work/store")
        r.prepare()
        sha(r.corpus.iterator.map(_.toString) ++
          Portal.sequence(seed, r.pool, 20).iterator.map(_.desc))
      } finally spark.stop()
    case "ingest" =>
      val live = scala.collection.mutable.Set[Long]((1L to Ingest.BaseSize): _*)
      var latest = Ingest.BaseSize.toLong
      val cycles = (1 to 8).iterator.flatMap { c =>
        val in = Ingest.cycleInput(seed, c, latest, live.contains)
        live ++= in.fresh.map(_.id)
        latest = in.fresh.last.id
        in.pages.toSeq.sortBy(_._1).map(_.toString) ++ in.redeliveredPages.map(_.toString)
      }
      sha(Gen.corpus(seed, Ingest.BaseSize).iterator.map(_.toString) ++ cycles)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** `--mode selftest`: every check, fed a deliberately corrupted program
  * result, must fail. Prints one line per workload; true when all hold. */
object SelfTest {
  def run(work: String): Boolean = {
    val spark = Main.session(work)
    try {
      val off = Tracer.off(spark)
      val results = Seq("fleet", "portal", "ingest").map { w =>
        val o = new Outcome
        w match {
          case "fleet" =>
            Corrupt.on = true
            Fleet.pass(spark, 0, Fleet.FixtureDir, Fleet.recorded("."), o, off)
          case "portal" =>
            val r = new PortalRunner(spark, 1, s"$work/selftest-portal")
            r.setup(s"$work/selftest-portal/store")
            r.prepare()
            Corrupt.on = true
            r.pool.values.flatten.foreach(req => r.serve(req, o, off))
          case "ingest" =>
            val r = new IngestRunner(spark, 1)
            r.setup(s"$work/selftest-ingest")
            r.prepare()
            Corrupt.on = true
            r.round(0, o, off)
            r.finish(o)
        }
        Corrupt.on = false
        val ok = o.checks > 0 && o.checksFailed == o.checks
        println(s"selftest $w: ${o.checksFailed} of ${o.checks} checks failed on corrupted results" +
          (if (ok) "" else " — FAIL: " + o.failures.take(3).mkString("; ")))
        ok
      }
      results.forall(identity)
    } finally spark.stop()
  }
}

/** `--mode record --out <file>`: writes `name<TAB>digest` for every
  * sampled fleet query (see record_digests.py). */
object Record {
  def run(work: String, out: String): Unit = {
    val spark = Main.session(work)
    try {
      val lines = Fleet.sample.map { case (_, d) =>
        val dg = try Fleet.digest(d.run(spark, Fleet.FixtureDir)) catch { case t: Throwable => s"ERROR $t" }
        spark.catalog.clearCache()
        s"${d.name}\t$dg"
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(out), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
      println(s"recorded ${lines.size} digests in $out")
    } finally spark.stop()
  }
}
