package graftbench

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("the same seed gives identical inputs, another seed different ones") {
    def all(seed: Long) = (
      Gen.docs(seed, 300),
      Gen.embeddings(seed, 50),
      Gen.lineitem(seed, 200),
      Gen.streamFiles(seed, 5, 1L << 32),
      (0 until 20).map(Gen.requests(seed, _, 500)))
    val a = all(7)
    assert(a == all(7))
    val b = all(8)
    a.productIterator.zip(b.productIterator).foreach { case (x, y) => assert(x != y) }
  }

  test("stream files: every upsert targets a key created in an earlier event") {
    val evs = Gen.streamFiles(3, 20, 1L << 32).flatten
    val created = scala.collection.mutable.Set.empty[Long]
    evs.foreach { e =>
      if (e.command == graft.model.Command.Create) created += e.id
      else assert(created(e.id), s"upsert before create: $e")
    }
    assert(created.size > evs.size / 4 && created.size < evs.size)
  }

  test("a percentile is reported only with at least 10 samples beyond it") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.percentile(xs, 99).contains(990.0))
    assert(Stats.percentile(xs.take(500), 99).isEmpty) // 5 beyond
    assert(Stats.percentile(xs.take(100), 90).contains(90.0)) // exactly 10 beyond
    assert(Stats.percentile(xs.take(99), 90).isEmpty) // 9 beyond
    assert(Stats.percentile(Nil, 50).isEmpty)
  }

  /** A clock that only moves when someone sleeps or works. */
  final class FakeClock(var now: Long) extends OpenLoop.Clock {
    def nanoTime(): Long = now
    def sleepUntil(ns: Long): Unit = now = math.max(now, ns)
  }

  test("open-loop operations are timed from their due time, so a stall charges the ones behind it") {
    val clock = new FakeClock(1000L)
    val dues = OpenLoop.dueTimes(1000L, 4, 100.0) // every 10 ms
    assert(dues == Seq(1000L, 10001000L, 20001000L, 30001000L))
    // operation 0 stalls the (single) issuing thread for 35 ms; the others take 1 ms
    val ops = OpenLoop.run(dues, clock) { i =>
      clock.now += (if (i == 0) 35000000L else 1000000L)
    }
    assert(ops.map(_.lateMs) == Seq(0.0, 25.0, 16.0, 7.0))
    assert(ops.map(_.latencyMs) == Seq(35.0, 26.0, 17.0, 8.0))
  }

  test("BENCHMARK.json lists exactly the per-layer metrics a traced run prints, with their units") {
    import org.json4s._
    val json = org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8"))
    val listed = for {
      JObject(m) <- (json \ "per_layer").children
      JString(n) <- m.toMap.get("name")
      JString(u) <- m.toMap.get("unit")
    } yield n -> u
    assert(listed == Layers.names.map(n => n -> Layers.unit(n)))
    val e2e = for { JObject(m) <- (json \ "end_to_end").children; JString(n) <- m.toMap.get("name") } yield n
    assert(e2e == Seq("setup_s", "latency_p50_ms", "throughput_per_s"))
  }

  test("self time excludes the part of a span its children cover") {
    assert(Trace.unionLength(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0L, 100L) == 30L)
    assert(Trace.unionLength(Seq((0L, 10L), (5L, 20L)), 8L, 12L) == 4L)
    assert(Trace.unionLength(Nil, 0L, 10L) == 0L)
  }
}
