package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's contention-divert decision table (r15 verdict #4 + advice:
  * the wall-only gate could never admit a real uniform regression, and a
  * synthetic-slowdown check must prove the fixed gate can). The decision is
  * a pure function so this spec needs no bench run. */
class BenchGateSpec extends AnyFunSuite {

  test("quiet host, no inflation: record run, no divert") {
    assert(!Bench.divert(1.0, Some(1.1), Some(1.05)))
    assert(!Bench.divert(1.0, None, None)) // first run / no record
  }

  test("measured start load diverts regardless of inflation evidence") {
    assert(Bench.divert(2.5, Some(1.0), Some(1.0)))
  }

  test("co-tenant wave: wall inflated, CPU flat -> contention, divert") {
    // the r15-continuation shape: five byte-identical runs at 1.6-2.4x
    // wall; tasks waited for cores, so cpu-ns stayed flat
    assert(Bench.divert(1.2, Some(1.8), Some(1.04)))
    // legacy record without cpu_sec: wall-only rule still protects
    assert(Bench.divert(1.2, Some(1.8), None))
  }

  test("SYNTHETIC UNIFORM REGRESSION: wall AND cpu inflated -> the gate " +
    "ADMITS the run so the record can show it") {
    // a codegen fall-off / interpreted-HOF / per-row-UDF swap slows every
    // key with zero byte growth AND burns the extra time as real CPU:
    // wall 1.9x, cpu 1.8x must reach bench_result.json
    assert(!Bench.divert(1.0, Some(1.9), Some(1.8)))
    // boundary: cpu inflation at exactly the 1.25 threshold is NOT enough
    assert(Bench.divert(1.0, Some(1.9), Some(1.25)))
    assert(!Bench.divert(1.0, Some(1.9), Some(1.26)))
  }

  test("spill-path evidence stands: the committed 2 GiB probe record has " +
    "per-key spill bytes, zero errors, and the spilling keys' row counts " +
    "equal the exact sf1 oracle counts (round-19 verdict task 3)") {
    // bench_spill_probe.json = the round-19 memory-pressure run: the
    // bench's heaviest shuffle keys at data/sf1 under SPARK_DRIVER_MEM=2g
    // (vs the normal 8g). The 100 TB story leans on Spark's spill
    // machinery; this is the standing local evidence the plans DEGRADE
    // (spill, stay exact) instead of OOM. The probe also forced a real
    // fix: jaccard's corpus-scaled sizes/dfreq/prefix joins are pinned to
    // sort-merge — the AQE-elected broadcast of a vocabulary-sized side
    // died here and is impossible at 100 TB.
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("bench_spill_probe.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(txt.contains("\"errors\":[]"),
      "the probe run must complete every key (degrade, not OOM)")
    // the harness records spill bytes per key (the field this pin guards)
    val spill = """"spill":(\d+)""".r.findAllMatchIn(txt)
      .map(_.group(1).toLong).toSeq
    assert(spill.nonEmpty && spill.exists(_ > 100000000L),
      s"at least one heavy key must show real spill under 2g: $spill")
    // exactness under pressure: both jaccard variants spilled AND still
    // produced the exact sf1 pair count (oracle-PASSed in BASELINE.md)
    for (k <- Seq("llm_dedup_jaccard", "llm_dedup_jaccard_prefix")) {
      val rec = (s""""$k":\\{"sec":[^}]*}""").r.findFirstIn(txt)
        .getOrElse(fail(s"probe record missing $k"))
      assert(rec.contains("\"rows\":2560"), s"$k must stay exact: $rec")
    }
  }

  test("staging parity: the keys' declared stages yield exactly the " +
    "committed r22 staged list, so staging cannot grow or shrink silently") {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("bench_result_r22.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    val committed = "\"([^\"]+)\"".r.findAllMatchIn(
      """"staged":\[([^\]]*)\]""".r.findFirstMatchIn(txt)
        .getOrElse(fail("bench_result_r22.json has no staged list")).group(1))
      .map(_.group(1)).toSeq
    assert(committed.size == 61 && committed.contains("stream_*"))
    assert(Bench.stagedKeys(SparkEntry.defs) == committed)
  }
}
