package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import perfbench.Main.{Op, Workload, copyTree, deleteTree}

/** The gate workload `gate_mix`: registered queries run by name through
  * `graft.queries.Registry`, each into a noop sink (every column
  * materialized), after the `Registry.prepares` store builds they read. */
object Gates {

  /** an iterative fit, two AvailableNow stream gates, an incremental
    * probe of a prepared store and an executor-bound dedup scan */
  val gates = Seq("q_kmeans_clusters", "q_stream_windowed_counts",
    "q_stream_cdc_snapshot", "q_incr_conv_prefix", "q_dedup_agg")
  /** the prepares whose stores they read */
  val prepares = Seq("conv_prefix_index")

  def ledgerRuns(): Long = {
    var n = 0L
    graft.ops.StoreLedger.buildLog.forEach((_, r) => n += r.runs)
    n
  }

  def workload(spark: SparkSession, dir: String): Workload = {
    val registry = graft.queries.Registry.queries
    new Workload {
      private var baselineRdds = Set.empty[Int]

      def prepare(s: SparkSession, tr: Trace): Unit = {
        val all = graft.queries.Registry.prepares.toMap
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.max(1, math.min(4, prepares.size)))
        try prepares.map { p =>
          val fn = all(p)
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              graft.ops.StoreLedger.currentOwner.set(p)
              try fn(s, dir) finally graft.ops.StoreLedger.currentOwner.remove()
            }
          })
        }.foreach(_.get())
        finally pool.shutdown()
        // page the built stores in, as graft.Bench's warm pass does
        s.catalog.listTables().collect().foreach { t =>
          s.table(t.name).write.format("noop").mode("overwrite").save()
        }
        baselineRdds = s.sparkContext.getPersistentRDDs.keySet.toSet
      }

      val ops: Seq[Op] = gates.map { g =>
        val fn = registry(g)
        Op(g,
          tr => {
            val df = tr.span("gate.build", g)(fn(spark, dir))
            tr.span("gate.execute", g)(
              df.write.format("noop").mode("overwrite").save())
            // gate-local persisted blocks are freed between gates, as
            // graft.Bench does
            tr.span("harness.unpersist", g)(
              spark.sparkContext.getPersistentRDDs.foreach { case (id, r) =>
                if (!baselineRdds.contains(id)) r.unpersist(blocking = true)
              })
          },
          (tr, checkDir) =>
            fn(spark, dir).write.mode("overwrite").parquet(s"$checkDir/$g"))
      }

      override def facts(s: SparkSession): Map[String, Double] =
        Map("sink.files" -> 0.0)

      override def checkRound(s: SparkSession, tr: Trace,
                              checkDir: String): Unit = {
        super.checkRound(s, tr, checkDir)
        val sql = graft.queries.Registry.oracleSql
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val o = om.createObjectNode()
        gates.foreach(g => sql.get(g).foreach(q => o.put(g, q)))
        om.writeValue(new File(s"$checkDir/oracle_sql.json"), o)
      }
    }
  }
}

/** The paper's workload: daily batches through
  * `graft.jobs.Pipeline.runResumable` into one day-partitioned output,
  * the last batch replaying an earlier day. */
class ResaleWorkload(spark: SparkSession, inputs: String, dataDir: String)
    extends Workload {
  private val truth = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new File(s"$inputs/truth.json"))
  private val batches: Seq[String] =
    truth.path("batches").elements().asScala.map(_.asText).toSeq
  private val out = s"$dataDir/resale_out"
  private var dims: graft.jobs.Pipeline.Dims = _

  def prepare(s: SparkSession, tr: Trace): Unit =
    dims = graft.jobs.Pipeline.readDims(s, s"$inputs/dims")

  override def beforeRound(): Unit = deleteTree(Paths.get(out))

  private def runBatch(tr: Trace, opName: String, day: String): Unit = {
    // a new day's run: the completion markers of the previous day's
    // run are not this day's (they are keyed by output dir only)
    Seq("scraped", "historical").foreach(n =>
      Files.deleteIfExists(Paths.get(out, s"_graft_done_$n")))
    val d = s"$inputs/day=$day"
    val date = LocalDate.parse(day)
    // the traced run splits this span at its first Spark job into
    // jobs.build (Pipeline.run's DataFrame construction) and the writes
    var mark = 0L
    val steps = tr.span("jobs.runResumable", opName) {
      mark = System.nanoTime()
      graft.jobs.Pipeline.runResumable(spark, s"$d/propnex", s"$d/srx",
        s"$d/historical", dims, date, out,
        onStepWritten = step => {
          val now = System.nanoTime()
          tr.record(s"jobs.${step}_write", opName, mark, now)
          mark = now
        })
    }
    if (steps != Seq("scraped", "historical"))
      throw new IllegalStateException(
        s"runResumable ran steps $steps for $day, expected both")
  }

  val ops: Seq[Op] = batches.zipWithIndex.map { case (day, i) =>
    val name = if (i == batches.size - 1) s"replay_$day" else s"batch_$day"
    Op(name, tr => runBatch(tr, name, day), (tr, _) => runBatch(tr, name, day))
  }

  /** Check round: all batches but the replay, a copy of the output, the
    * replay, a second copy. */
  override def checkRound(s: SparkSession, tr: Trace,
                          checkDir: String): Unit = {
    beforeRound()
    ops.init.foreach(op => op.check(tr, checkDir))
    copyTree(Paths.get(out), Paths.get(checkDir, "before_replay"))
    ops.last.check(tr, checkDir)
    copyTree(Paths.get(out), Paths.get(checkDir, "final"))
  }

  /** Row facts of one round, for the traced run's jobs.* metrics. */
  override def facts(s: SparkSession): Map[String, Double] = {
    val in = batches.map { day =>
      val d = s"$inputs/day=$day"
      graft.jobs.PropnexJob.readRaw(s, s"$d/propnex").count() +
        graft.jobs.SrxJob.readRaw(s, s"$d/srx").count() +
        graft.jobs.HistoricalJob.readRaw(s, s"$d/historical").count()
    }.sum
    val listings = batches.distinct.map { day =>
      val d = s"$inputs/day=$day"
      graft.jobs.PropnexJob.readRaw(s, s"$d/propnex").count() +
        graft.jobs.SrxJob.readRaw(s, s"$d/srx").count()
    }.sum
    val scraped = s.read.parquet(s"$out/scraped").count()
    val hist = s.read.parquet(s"$out/historical").count()
    val files = Files.walk(Paths.get(out)).iterator().asScala
      .count(p => p.toString.endsWith(".parquet"))
    Map("jobs.input_rows" -> in.toDouble,
      "jobs.output_rows" -> (scraped + hist).toDouble,
      "jobs.dedup_kept_ratio" -> scraped.toDouble / listings,
      "sink.files" -> files.toDouble)
  }
}
