package graft

import Runner.fmt

/** Shuffle-VOLUME evidence for SCALING.md: wall-time sublinearity on
  * local[32] conflates plan shape with overhead amortization, so this
  * records what actually crosses the exchanges — per-query shuffle
  * WRITE bytes from `SparkListenerStageCompleted` — at each fixture
  * scale, and asserts bytes grow at most linearly with the scale
  * factor. A plan whose wall time looks sublinear while its shuffle
  * bytes grow superlinearly is borrowing against the network it will
  * not have at 100 TB; this catches exactly that.
  *
  * Usage:
  *   runMain graft.ShuffleProbe q1_pricing_summary,q61_neardup_banded \
  *     /root/testdata/sf0.1:1 /tmp/sfx5:5 /tmp/sfx10:10
  *   runMain graft.ShuffleProbe all /root/testdata/sf0.1:1 /tmp/sfx5:5
  *
  * Each dir argument carries its scale factor after a colon; the query
  * list `all` expands to EVERY SparkEntry query — the standing
  * whole-suite regression gate. Output: one JSON line per dir
  * {"sf_dir":…,"k":…,"bytes":{q:…},"secs":{q:…}}, then per-query fitted
  * exponents and a loud SUPERLINEAR flag (exit 1) when
  * records(k_max)/records(k_min) exceeds (k_max/k_min) × 1.2 — the
  * slack absorbs fixed-size sketch / codebook floors that do not scale
  * at all. When SPARK_GRAFT_SHUFFLE_OUT is set, a consolidated JSON
  * artifact (one row per query: records at each scale, exponents,
  * superlinear, allowlisted) is written there — SHUFFLE_r{N}.json.
  *
  * Allowlist: DERIVED from the registry's calibration tag
  * ([[SparkEntry.calibrationQueries]]) — queries whose superlinear
  * growth is designed (they carry an unbounded baseline on purpose to
  * price their own mitigations in-gate) get recorded but do not fail
  * the gate. There is no probe-side hand list: a new superlinear query
  * fails until it is explicitly tagged calibration in the registry,
  * next to the production counterpart its tag must name.
  */
object ShuffleProbe {
  private def Allowlist: Map[String, String] = SparkEntry.calibrationQueries

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ShuffleProbe <q1,q2,…|all> <dir:k> [<dir:k>…]")
    val queries =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").toSeq
    val selected = SparkEntry.select(queries)
    val dirs = args.drop(1).toSeq.map { a =>
      val Array(d, k) = a.split(":"); (d, k.toDouble)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Auto-broadcast OFF: a dim side that fits under the 10 MB threshold
    // at sf0.1 crosses it somewhere in the 1×→10× series, and the
    // broadcast→shuffle plan transition shows up as a fake byte-growth
    // step. At 100 TB everything auto-broadcastable today is shuffled
    // anyway, so the pure-exchange regime is the one whose growth rate
    // matters. EXPLICIT broadcast() hints (codebooks, eval shingles —
    // driver-sized by construction) override the threshold and stay.
    val spark = graft.core.Tables.sessionBuilder(cpus, s"local[$cpus]")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // both log gates ride the whole-suite probe: ANY >1000 KiB task
    // binary or codegen fallback (a stage quietly running interpreted
    // rows) fails the run like a superlinear exchange would
    LogGate.install()
    val run = new Runner(spark)

    // (dir, k) -> query -> (bytes, records, secs)
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val measured = dirs.map { case (dir, k) =>
      val per = queries.map { q =>
        val r = run(Runner.noop(selected(q)(spark, dir)))
        r.error.foreach { e =>
          System.err.println(s"[shuffleprobe] $q @ $dir FAILED: $e")
          errors += s"$q@$dir"
        }
        Runner.dropCached(spark)
        q -> (if (r.ok) (r.totals.shuffleBytes, r.totals.shuffleRecords, r.secs)
              else (-1L, -1L, r.secs))
      }.toMap
      val bJson = queries.map(q => "\"" + q + "\":" + per(q)._1).mkString("{", ",", "}")
      val rJson = queries.map(q => "\"" + q + "\":" + per(q)._2).mkString("{", ",", "}")
      val sJson = queries.map(q => "\"" + q + "\":" + fmt(per(q)._3)).mkString("{", ",", "}")
      println(s"""{"sf_dir":"$dir","k":$k,"bytes":$bJson,"records":$rJson,"secs":$sJson}""")
      (k, per)
    }

    // The ≤-linear assert runs on RECORDS over the LARGEST two scales:
    //  - records, because the fixture's `_k` word suffixes make high
    //    replicas' strings a few percent wider — BYTES inflate
    //    linearly-in-rows with a growing constant (fixture artifact,
    //    not fan-out); records count exchange tuples and are immune;
    //  - the large regime, because the small end is where floors live
    //    (map-side combine is most effective when the key space is
    //    still small relative to a partition; fixed sketch/codebook
    //    exchanges don't grow at all) — asymptotics are the last pair.
    // Full-span exponents for both measures are still reported.
    var superlinear = List.empty[String]
    val artifactRows = scala.collection.mutable.ArrayBuffer.empty[String]
    if (measured.size >= 2) {
      val (k0, m0) = measured.head
      val (k1, m1) = measured.last
      val (kp, mp) = measured(measured.size - 2) // penultimate scale
      queries.foreach { q =>
        val (b0, b1) = (m0(q)._1, m1(q)._1)
        val (r0, r1) = (m0(q)._2, m1(q)._2)
        // an unmeasurable pair (a failed run's -1 sentinel, or a
        // genuinely zero-shuffle query) must emit JSON null, never a
        // bare NaN token (invalid JSON in the consolidated artifact)
        def ex(a: Long, b: Long, kk0: Double, kk1: Double): String =
          if (a <= 0 || b <= 0) "null"
          else fmt(math.log(b.toDouble / a) / math.log(kk1 / kk0))
        val rp = mp(q)._2
        val lin = rp > 0 && r1 > rp * (k1 / kp) * 1.2
        val allowed = Allowlist.contains(q)
        // a failure at ANY scale: the growth was never measured, so the
        // row carries error:true (and the errors list exits 1) rather
        // than a silently-false superlinear verdict
        val err = measured.exists(m => m._2(q)._2 < 0)
        if (lin && !allowed) superlinear ::= q
        val row = s"""{"query":"$q","records":${measured.map(m => m._2(q)._2).mkString("[", ",", "]")},""" +
          s""""secs":${measured.map(m => fmt(m._2(q)._3)).mkString("[", ",", "]")},""" +
          s""""records_exponent":${ex(r0, r1, k0, k1)},""" +
          s""""records_exponent_large":${ex(rp, r1, kp, k1)},""" +
          s""""bytes_exponent":${ex(b0, b1, k0, k1)},""" +
          s""""superlinear":$lin,"allowlisted":$allowed,"error":$err}"""
        artifactRows += row
        println(row)
      }
    }
    sys.env.get("SPARK_GRAFT_SHUFFLE_OUT").foreach { out =>
      val ks = dirs.map(_._2).mkString("[", ",", "]")
      val allow = Allowlist.map { case (q, why) => s""""$q":"$why"""" }.mkString("{", ",", "}")
      val body =
        s"""{"scales":$ks,"dirs":${dirs.map("\"" + _._1 + "\"").mkString("[", ",", "]")},
           |"ceiling":"records(k_max) <= records(k_penultimate) * (k_max/k_penultimate) * 1.2",
           |"allowlist_source":"SparkEntry.calibrationQueries (registry tag)",
           |"allowlist":$allow,
           |"errors":${errors.map("\"" + _ + "\"").mkString("[", ",", "]")},
           |"superlinear_unallowed":${superlinear.map("\"" + _ + "\"").mkString("[", ",", "]")},
           |"task_binary_warns":${LogGate.taskBinaryWarnCount},
           |"task_binary_gate":"zero warnings over Spark's 1000 KiB line",
           |"codegen_fallback_warns":${LogGate.codegenFallbackWarns},
           |"codegen_gate":"zero 'falling back to interpreter mode' / 'Whole-stage codegen disabled' warnings",
           |"queries":[
           |${artifactRows.mkString(",\n")}
           |]}""".stripMargin
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[shuffleprobe] wrote $out (${artifactRows.size} queries)")
    }
    spark.stop()
    if (superlinear.nonEmpty || errors.nonEmpty || LogGate.violations.nonEmpty) {
      System.err.println(s"[shuffleprobe] SUPERLINEAR shuffle growth: ${superlinear.mkString(", ")}" +
        (if (errors.nonEmpty) s"; ERRORS: ${errors.mkString(", ")}" else "") +
        LogGate.violations.map("; " + _).getOrElse(""))
      sys.exit(1)
    }
  }
}
