package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import Main.{Opts, Record}

/** `operators`: the extension-operator registry, `SparkEntry.queries`,
  * over seeded TPC-H-shaped tables plus `events`, `documents` and
  * `embeddings` (written by `gen_ops.py`). A fixed subset covers every
  * operator family (text, vec, streaming, functions, multimodal, plans
  * and the parity queries); the seed permutes its order. Two untimed
  * passes warm the JVM and the caches; then `--seconds` /
  * [[NominalPassSeconds]] timed passes run. A pass is reported as the sum
  * of each query's median over the passes. */
object Operators {

  /** The timed subset, by family: text, functions, the parity queries,
    * vec, streaming, plans and multimodal. Each query has a DuckDB oracle
    * and runs in 0.15–0.9 s at these sizes on four cores, four to five
    * seconds a pass. Chosen once by timing the
    * whole registry and running every oracle over these inputs. */
  /** About how long one pass takes on four cores; `--seconds` buys that
    * many passes (three at 15 s). */
  val NominalPassSeconds = 5.0

  val Subset: Seq[String] = Seq(
    "q_x_decontaminate", "q_x_lang_id", "q_x_dedup_exact",
    "q_x_sessionize", "q_x_rolling_agg",
    "q_p6_dsl_or", "q_j1_broadcast_join",
    "q_x_semdedup", "q_x_ann_brute",
    "q_x_stream_decontaminate",
    "q_x_range_join",
    "q_x_image_meta")

  def run(spark: SparkSession, o: Opts, rec: Record): Unit = {
    val all = graft.SparkEntry.queries
    val order = new Random(o.seed).shuffle(Subset)

    def once(name: String): (Double, Long, Option[String]) = {
      val t0 = System.nanoTime()
      val res = try {
        Right(Trace.span("entry.query", name)(all(name)(spark, o.data).count()))
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val took = (System.nanoTime() - t0) / 1e6
      // pinned frames live until GC; nothing is shared across queries,
      // so drop them outside the timer (as graft.Bench does)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      (took, res.getOrElse(-1L), res.left.toOption)
    }

    // two untimed passes: after one, the next pass still runs ~15 % slower
    // while the JIT catches up, which would tie the result to how many
    // passes fit in the window
    val rows = mutable.LinkedHashMap.empty[String, Long]
    val warm = (1 to 2).flatMap(_ => order.map { n =>
      val (took, count, err) = once(n)
      err.foreach(e => rec.check(s"query $n", ok = false, e))
      if (rows.get(n).exists(_ != count))
        rec.check(s"query $n", ok = false, s"rows $count vs ${rows(n)}")
      rows(n) = count
      took
    })
    // the warm passes are the JVM side of this workload's set-up
    rec.setupS += warm.sum / 1e3

    // a fixed number of passes for the window, not as many as fit: the JVM
    // keeps warming, so a pass count that follows the host's speed would
    // move the medians with it
    val nPasses = math.max(1, math.round(o.seconds / NominalPassSeconds).toInt)
    Main.passes(spark, o, rec) { traced =>
      val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
      (1 to nPasses).foreach { _ =>
        order.foreach { n =>
          val (took, count, err) = once(n)
          val ok = err.isEmpty && count == rows(n)
          if (!ok) rec.check(s"query $n", ok = false, err.getOrElse(s"rows $count vs warm ${rows(n)}"))
          times.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += took
          rec.op("query", took, ok, "unit" -> n, "traced" -> traced)
        }
      }
      order.map(n => Main.median(times(n).toSeq)).sum
    }
    rows.foreach { case (n, c) =>
      rec.oracle += Out.obj("name" -> n, "rows" -> c,
        "sql" -> graft.SparkEntry.oracleSql.get(n))
    }
  }
}
