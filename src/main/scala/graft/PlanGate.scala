package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.SparkPlan

/** Plan-SHAPE regression gate: the round's perf work (pushed filters,
  * broadcast dims, single-shuffle windows, map-only text primitives) is
  * only as durable as the plans that carry it, and wall-time gates
  * cannot tell a 15% scheduler wobble from a silently demoted broadcast
  * join. This gate pins every registry query's pre-AQE physical plan to
  * a committed fingerprint — node counts for the exchanges / sorts /
  * join strategies / scans that determine cost at 100 TB, plus the scan
  * column width and pushed-filter count — and fails LOUDLY when a code
  * or Spark-conf change makes any query's plan strictly worse:
  *
  *   - more shuffle or broadcast exchanges, more sorts, more scans
  *   - a broadcast-hash join demoted to sort-merge / shuffled-hash
  *   - a cartesian product or broadcast-nested-loop join appearing
  *   - a hash aggregate falling back to sort-aggregate
  *   - a wider scan (column pruning lost) or fewer pushed filters
  *
  * Any OTHER plan difference is reported as CHANGED (stale baseline —
  * re-run with --update after review), so improvements are adopted
  * deliberately, never silently. Fingerprints come from
  * `queryExecution.sparkPlan` (post-strategy, pre-AQE): deterministic
  * without executing, and the surface where join selection and shuffle
  * placement are decided. AQE can only improve on it at runtime (its
  * runtime re-plans are themselves exercised by Bench/ShuffleProbe).
  *
  * Replay-style queries that drive a stream during construction return
  * a localized result; their fingerprint is the local-scan shape, which
  * still pins "this query did not silently grow a distributed tail".
  *
  * Usage:
  *   runMain graft.PlanGate            — compare against tools/plan_baseline.json
  *   runMain graft.PlanGate --update   — rewrite the baseline (reviewed commit)
  * Optional trailing arg: fixture dir (default /root/testdata/sf0.01 —
  * the gate scale; size-based broadcast decisions are pinned to it).
  * SPARK_GRAFT_PLANGATE_OUT names a JSON artifact to write.
  */
object PlanGate {

  /** Node-class buckets that determine distributed cost. Keys are the
    * fingerprint's vocabulary; values match on SparkPlan simple class
    * names (minus the Exec suffix). */
  private val Buckets: Map[String, String] = Map(
    "ShuffleExchange" -> "shuffle",
    "BroadcastExchange" -> "broadcast",
    "ReusedExchange" -> "reused",
    "Sort" -> "sort",
    "SortMergeJoin" -> "smj",
    "BroadcastHashJoin" -> "bhj",
    "ShuffledHashJoin" -> "shj",
    "BroadcastNestedLoopJoin" -> "bnlj",
    "CartesianProduct" -> "cartesian",
    "HashAggregate" -> "hashagg",
    "ObjectHashAggregate" -> "objhashagg",
    "SortAggregate" -> "sortagg",
    "Window" -> "window",
    "WindowGroupLimit" -> "wingrouplimit",
    "TakeOrderedAndProject" -> "topk",
    "Generate" -> "generate",
    "Expand" -> "expand",
    "FileSourceScan" -> "scan",
    "BatchScan" -> "scan",
    "LocalTableScan" -> "local",
    "RDDScan" -> "local",
    "ExternalRDDScan" -> "local",
    "Scan ExistingRDD" -> "local")

  final case class Fp(
      counts: Map[String, Int], // bucket -> node count (non-zero only)
      scanCols: Int, // Σ output width over file scans (pruning witness)
      pushed: Int, // Σ pushed data filters over file scans
      custom: Seq[String]) { // graft-package exec nodes, sorted
    def json: String = {
      val cs = counts.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      val cu = custom.map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"nodes":$cs,"scan_cols":$scanCols,"pushed":$pushed,"custom":$cu}"""
    }
  }

  private def simpleName(p: SparkPlan): String =
    p.getClass.getSimpleName.stripSuffix("$").stripSuffix("Exec")

  /** The prepared pre-execution plan: `sparkPlan` predates
    * EnsureRequirements (no exchanges/sorts yet, useless here), and the
    * executed AQE wrapper hides its tree — so unwrap to AQE's
    * `initialPlan`, the fully-prepared static plan AQE starts from.
    * Runtime re-plans can only improve on it and are exercised by
    * Bench/ShuffleProbe; the static plan is the deterministic surface
    * a commit gate can pin. */
  private def preparedPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }

  def fingerprint(df: DataFrame): Fp = {
    val nodes = preparedPlan(df).collect { case p => p }
    val counts = scala.collection.mutable.Map.empty[String, Int]
    val custom = scala.collection.mutable.SortedSet.empty[String]
    var scanCols = 0
    var pushed = 0
    nodes.foreach { p =>
      val n = simpleName(p)
      Buckets.get(n).foreach(b => counts(b) = counts.getOrElse(b, 0) + 1)
      if (p.getClass.getName.startsWith("graft.")) custom += n
      p match {
        case f: FileSourceScanExec =>
          scanCols += f.output.size
          // dataFilters are the predicates the scan actually evaluates /
          // pushes to parquet row-group stats; partitionFilters prune
          // directories. Both disappearing = a pushdown regression.
          pushed += f.dataFilters.size + f.partitionFilters.size
        case _ =>
      }
    }
    Fp(counts.toMap, scanCols, pushed, custom.toSeq)
  }

  /** Regression = the plan got strictly worse on a cost-bearing axis.
    * Returns the list of violated axes (empty = no regression). */
  def regressions(base: Fp, cur: Fp): Seq[String] = {
    def n(fp: Fp, k: String) = fp.counts.getOrElse(k, 0)
    val out = Seq.newBuilder[String]
    def worse(axis: String, b: Int, c: Int): Unit =
      if (c > b) out += s"$axis ${b}->${c}"
    worse("shuffle", n(base, "shuffle"), n(cur, "shuffle"))
    worse("broadcast", n(base, "broadcast"), n(cur, "broadcast"))
    worse("sort", n(base, "sort"), n(cur, "sort"))
    worse("scan", n(base, "scan"), n(cur, "scan"))
    worse("cartesian", n(base, "cartesian"), n(cur, "cartesian"))
    worse("bnlj", n(base, "bnlj"), n(cur, "bnlj"))
    worse("sortagg", n(base, "sortagg"), n(cur, "sortagg"))
    if (cur.scanCols > base.scanCols)
      out += s"scan_cols ${base.scanCols}->${cur.scanCols}"
    if (cur.pushed < base.pushed)
      out += s"pushed ${base.pushed}->${cur.pushed}"
    if (n(cur, "bhj") < n(base, "bhj") &&
        n(cur, "smj") + n(cur, "shj") > n(base, "smj") + n(base, "shj"))
      out += s"broadcast-join demoted (bhj ${n(base, "bhj")}->${n(cur, "bhj")})"
    out.result()
  }

  private val BaselinePath = "tools/plan_baseline.json"

  // Baseline file format: {"<query>": {"nodes":{...},"scan_cols":N,
  // "pushed":N,"custom":[...]}, ...} — parsed with a tiny recursive
  // JSON reader (no deps; the file is machine-written by --update).
  private[graft] def parseBaseline(text: String): Map[String, Fp] = {
    val j = MiniJson.parse(text).asInstanceOf[Map[String, Any]]
    j.map { case (q, v) =>
      val m = v.asInstanceOf[Map[String, Any]]
      val nodes = m("nodes").asInstanceOf[Map[String, Any]]
        .map { case (k, n) => k -> n.asInstanceOf[Double].toInt }
      q -> Fp(nodes,
        m("scan_cols").asInstanceOf[Double].toInt,
        m("pushed").asInstanceOf[Double].toInt,
        m("custom").asInstanceOf[Seq[Any]].map(_.toString))
    }
  }

  def main(args: Array[String]): Unit = {
    val update = args.contains("--update")
    val sfDir = args.filterNot(_ == "--update").headOption
      .getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Tables.sessionBuilder(cpus, s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val names = SparkEntry.queries.keys.toSeq.sorted
    val errors = Seq.newBuilder[String]
    val fps: Map[String, Fp] = names.flatMap { q =>
      try Some(q -> fingerprint(SparkEntry.queries(q)(spark, sfDir)))
      catch {
        case e: Throwable =>
          errors += s"$q: ${String.valueOf(e.getMessage).linesIterator.next()}"
          None
      }
    }.toMap

    def baselineJson(m: Map[String, Fp]): String =
      m.toSeq.sortBy(_._1)
        .map { case (q, fp) => s""""$q": ${fp.json}""" }
        .mkString("{\n", ",\n", "\n}\n")

    if (update) {
      java.nio.file.Files.write(java.nio.file.Paths.get(BaselinePath),
        baselineJson(fps).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plangate] baseline updated: ${fps.size} queries -> $BaselinePath")
      spark.stop()
      if (errors.result().nonEmpty) {
        System.err.println(s"[plangate] ERRORS: ${errors.result().mkString("; ")}")
        sys.exit(1)
      }
      return
    }

    val base = parseBaseline(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(BaselinePath)),
      java.nio.charset.StandardCharsets.UTF_8))

    val regressed = Seq.newBuilder[(String, Seq[String])]
    val changed = Seq.newBuilder[String]
    val added = names.filterNot(base.contains)
    val removed = base.keys.toSeq.filterNot(fps.contains).sorted
    fps.toSeq.sortBy(_._1).foreach { case (q, cur) =>
      base.get(q).foreach { b =>
        val regs = regressions(b, cur)
        if (regs.nonEmpty) regressed += (q -> regs)
        else if (b != cur) changed += q
      }
    }
    val regs = regressed.result()
    val errs = errors.result()

    sys.env.get("SPARK_GRAFT_PLANGATE_OUT").foreach { out =>
      val regJson = regs.map { case (q, rs) =>
        s""""$q":${rs.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
      }.mkString("{", ",", "}")
      def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
      val body =
        s"""{"sf_dir":"$sfDir","n_queries":${fps.size},
           |"gate":"pre-AQE plan fingerprints vs tools/plan_baseline.json: fail on more exchanges/sorts/scans, broadcast-join demotion, cartesian or sort-aggregate appearing, lost column pruning or filter pushdown",
           |"regressions":$regJson,
           |"changed_non_regression":${arr(changed.result())},
           |"added":${arr(added)},"removed":${arr(removed)},
           |"errors":${arr(errs)},
           |"ok":${regs.isEmpty && removed.isEmpty && errs.isEmpty}}""".stripMargin
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[plangate] wrote $out")
    }

    println(s"[plangate] ${fps.size} queries fingerprinted; " +
      s"${regs.size} regressed, ${changed.result().size} changed (non-regression), " +
      s"${added.size} new, ${removed.size} removed, ${errs.size} errors")
    regs.foreach { case (q, rs) => println(s"[plangate] REGRESSED $q: ${rs.mkString("; ")}") }
    changed.result().foreach(q => println(s"[plangate] changed (review + --update): $q"))
    added.foreach(q => println(s"[plangate] new (adopt with --update): $q"))
    removed.foreach(q => println(s"[plangate] REMOVED from registry: $q"))
    spark.stop()
    if (regs.nonEmpty || removed.nonEmpty || errs.nonEmpty) sys.exit(1)
  }
}

/** Minimal JSON reader for the gate's own machine-written baseline file:
  * objects -> Map[String,Any], arrays -> Seq[Any], numbers -> Double,
  * strings -> String, true/false/null. Not a general parser — no
  * unicode escapes beyond \\uXXXX, which --update never emits. */
private[graft] object MiniJson {
  def parse(s: String): Any = { val p = new P(s); val v = p.value(); p.ws(); require(p.eof, "trailing JSON"); v }
  private final class P(s: String) {
    private var i = 0
    def eof: Boolean = i >= s.length
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def expect(c: Char): Unit = { ws(); require(!eof && s.charAt(i) == c, s"expected '$c' at $i"); i += 1 }
    def value(): Any = { ws(); s.charAt(i) match {
      case '{' => obj()
      case '[' => arr()
      case '"' => str()
      case 't' => i += 4; true
      case 'f' => i += 5; false
      case 'n' => i += 4; null
      case _ => num()
    }}
    private def obj(): Map[String, Any] = {
      expect('{'); ws()
      val b = Map.newBuilder[String, Any]
      if (s.charAt(i) == '}') { i += 1; return b.result() }
      while (true) {
        ws(); val k = str(); expect(':'); val v = value(); b += (k -> v); ws()
        s.charAt(i) match {
          case ',' => i += 1
          case '}' => i += 1; return b.result()
          case c => throw new IllegalArgumentException(s"bad object char '$c' at $i")
        }
      }
      b.result()
    }
    private def arr(): Seq[Any] = {
      expect('['); ws()
      val b = Seq.newBuilder[Any]
      if (s.charAt(i) == ']') { i += 1; return b.result() }
      while (true) {
        b += value(); ws()
        s.charAt(i) match {
          case ',' => i += 1
          case ']' => i += 1; return b.result()
          case c => throw new IllegalArgumentException(s"bad array char '$c' at $i")
        }
      }
      b.result()
    }
    private def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s.charAt(i) != '"') {
        if (s.charAt(i) == '\\') {
          i += 1
          s.charAt(i) match {
            case 'n' => sb += '\n'; case 't' => sb += '\t'; case 'r' => sb += '\r'
            case 'u' => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case c => sb += c
          }
        } else sb += s.charAt(i)
        i += 1
      }
      i += 1
      sb.result()
    }
    private def num(): Double = {
      val j = i
      while (i < s.length && "+-.eE0123456789".indexOf(s.charAt(i)) >= 0) i += 1
      s.substring(j, i).toDouble
    }
  }
}
