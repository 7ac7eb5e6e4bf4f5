package perfbench

import java.nio.file.Paths

import org.apache.spark.scheduler.PerfbenchBridge
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TracingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = graft.GraftSession.builder("local[2]", 2).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("tracing leaves the job count unchanged and sees every job") {
    val data = Paths.get("data/sf0.01").toAbsolutePath.toString
    val wl = new Catalog("t", Seq("q98_nfc_dedup", "q101_bpe_vocab"), Seq("documents"), spark,
      data, Map.empty)
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    def jobs(traced: Boolean): (Int, Seq[Span]) = {
      tracer.enabled = traced
      val before = PerfbenchBridge.jobsSubmitted(sc)
      val from = tracer.spans.size
      assert(tracer.span("pass", "p")(wl.pass(tracer)).isEmpty)
      tracer.enabled = false
      (PerfbenchBridge.jobsSubmitted(sc) - before, tracer.spans.drop(from).toSeq)
    }
    jobs(traced = false) // warm-up
    val (untraced, none) = jobs(traced = false)
    assert(none.isEmpty)
    val probe = new SparkProbe
    sc.addSparkListener(probe)
    spark.listenerManager.register(probe)
    val (traced, spans) = try jobs(traced = true) finally {
      PerfbenchBridge.drainListenerBus(sc)
      spark.listenerManager.unregister(probe)
      sc.removeSparkListener(probe)
    }
    val (totals, seen) = probe.take()
    assert(untraced > 0)
    assert(traced == untraced)
    assert(seen.size == traced)
    assert(totals.queries >= 2)
    // every job hangs off a span of the item that started it
    val items = spans.filter(_.kind == "item").map(_.id).toSet
    assert(seen.forall(j => items.contains(j.trace)))
    val byId = spans.map(s => s.id -> s).toMap
    assert(seen.forall(j => byId.get(j.parent).exists(_.trace == j.trace)))
    assert(Main.jobSpanCheck(spans, seen.map(_.span)).ok)
  }
}
