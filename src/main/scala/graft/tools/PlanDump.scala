package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Session, SparkEntry}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Dev-only: the physical plans of some or all queries, four ways.
  *
  * runMain graft.tools.PlanDump <mode> <sfDir> <q1,q2,...|all> [outDir]
  *  - formatted: each plan's formatted explain, before execution, written
  *    to <outDir>/<query>.txt;
  *  - executed: runs each query's own plan, then prints the final adaptive
  *    plan, where reused exchanges and runtime join choices are visible;
  *  - audit: one line per query (shuffle exchanges, broadcasts,
  *    whole-stage-codegen spans, scans, scans without pushed filters), to
  *    spot plan smells across the suite at a glance;
  *  - canon: each shuffle exchange, and every pair that is canonically
  *    equal (exchange reuse can fire) or equal but for Filter lines (the
  *    divergent-isnotnull-pushdown class that silently computes a subtree
  *    twice). With one query, CANON_DUMP=i,j also writes exchanges i and
  *    j's canonicalized trees to the temp dir for a diff.
  * audit and canon plan with AQE off: the adaptive root hides the codegen
  * spans, and the static planner shows whether ReuseExchange itself fires.
  */
object PlanDump {
  private val Usage =
    "usage: PlanDump formatted|executed|audit|canon <sfDir> <q1,q2,...|all> [outDir]\n" +
      "  formatted needs outDir; CANON_DUMP=i,j applies to canon on one query"

  private def usage(why: String): Nothing = {
    System.err.println(s"PlanDump: $why")
    System.err.println(Usage)
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 3 || args.length > 4) usage("expected 3 or 4 arguments")
    val mode = args(0)
    val sfDir = args(1)
    val names =
      if (args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val outDir = args.lift(3)
    if (!Set("formatted", "executed", "audit", "canon")(mode)) usage(s"unknown mode '$mode'")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (names.isEmpty || unknown.nonEmpty) usage(s"unknown queries '${unknown.mkString(",")}'")
    if (mode == "formatted" && outDir.isEmpty) usage("formatted needs an outDir")
    val canonDump = sys.env.get("CANON_DUMP").filter(_ => mode == "canon").map { ij =>
      ij.split(",").map(_.trim.toIntOption) match {
        case Array(Some(i), Some(j)) if i >= 0 && j >= 0 && names.size == 1 => (i, j)
        case _ => usage(s"CANON_DUMP must be 'i,j' (two exchange indices, one query), got '$ij'")
      }
    }

    val spark = Session.local(Session.cores)
    if (mode == "audit" || mode == "canon")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    def plan(name: String) = SparkEntry.queries(name)(spark, sfDir).queryExecution

    mode match {
      case "formatted" =>
        Files.createDirectories(Paths.get(outDir.get))
        names.foreach { n =>
          Files.write(Paths.get(outDir.get, s"$n.txt"),
            plan(n).explainString(FormattedMode).getBytes("UTF-8"))
          println(s"dumped $n")
        }
      case "executed" =>
        names.foreach { n =>
          val df = SparkEntry.queries(n)(spark, sfDir)
          GraftColumnBridge.forceOwnPlan(df)
          println(s"==== $n ====")
          println(df.queryExecution.executedPlan.toString)
        }
      case "audit" => names.foreach(n => println(audit(n, plan(n).executedPlan.toString)))
      case "canon" => names.foreach { n =>
        val exs = plan(n).executedPlan.collect { case e: ShuffleExchangeExec => e }
        canon(n, exs, names.size == 1)
        canonDump.foreach { case (i, j) =>
          if (i >= exs.size || j >= exs.size)
            usage(s"CANON_DUMP $i,$j out of range: $n has ${exs.size} exchanges")
          Seq(i, j).foreach { k =>
            val f = Paths.get(System.getProperty("java.io.tmpdir"), s"canon_$k.txt")
            Files.write(f, exs(k).canonicalized.treeString.getBytes("UTF-8"))
            println(s"wrote $f")
          }
        }
      }
    }
    spark.stop()
  }

  private def audit(name: String, p: => String): String =
    try {
      val text = p
      def n(s: String) = s.r.findAllIn(text).size
      val exch = n("Exchange hashpartitioning") + n("Exchange rangepartitioning") +
        n("Exchange RoundRobinPartitioning") + n("Exchange SinglePartition")
      // codegen'd operators render as "*(stageId) Op": count distinct ids
      val wscg = "\\*\\((\\d+)\\)".r.findAllMatchIn(text).map(_.group(1)).toSet.size
      f"$name%-24s exch=$exch%2d bcast=${n("BroadcastExchange")}%d wscg=$wscg%2d " +
        f"scans=${n("FileScan")}%d scansNoPush=${n("PushedFilters: \\[\\]")}%d"
    } catch { case e: Throwable =>
      // getMessage is null for bare NPEs: the survey must outlive any
      // one query's failure and still say what it was
      f"$name%-24s PLAN-ERROR ${Option(e.getMessage).getOrElse(e.getClass.getName).take(80)}"
    }

  private def canon(name: String, exs: Seq[ShuffleExchangeExec], verbose: Boolean): Unit = {
    println(s"${if (verbose) "" else s"$name "}exchanges=${exs.size}")
    if (verbose) exs.zipWithIndex.foreach { case (e, i) =>
      println(s"[$i] ${e.outputPartitioning} rows~${e.child.getClass.getSimpleName}")
    }
    // normalize tree-drawing indents, codegen-span ids and plan ids (all
    // cosmetic), then drop Filter lines: what still differs means the
    // subtrees do genuinely different work
    def stripped(e: ShuffleExchangeExec): String =
      e.canonicalized.treeString.linesIterator
        .map(_.replaceAll("^[\\s:+|-]*", "")
          .replaceAll("\\*\\(\\d+\\) ", "")
          .replaceAll("\\[plan_id=\\d+\\]", ""))
        .filterNot(l => l.startsWith("Filter") || l.startsWith("!Filter"))
        .mkString("\n")
    for (i <- exs.indices; j <- exs.indices if i < j) {
      if (exs(i).sameResult(exs(j)))
        println(s"  SAME: $i $j -> ${exs(i).outputPartitioning}")
      else if (stripped(exs(i)) == stripped(exs(j)))
        println(s"  NEAR(filter-only diff): $i $j -> ${exs(i).outputPartitioning}")
    }
  }
}
