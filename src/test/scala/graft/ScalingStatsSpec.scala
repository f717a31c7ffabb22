package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scaling-efficiency estimator is the round's gate statistic — pin its
  * math down without a SparkSession: median, the per-fork
  * min-of-trial-medians regrouping, and PairResult's robust/wall/capped
  * efficiency selection (protocol doc: BASELINE.md "Scaling measurement
  * protocol").
  */
class ScalingStatsSpec extends AnyFunSuite {
  import Scaling.{Host, RunResult, PairResult}
  import graft.plans.Json

  private val host = Host(nproc = 4, memMb = 15 * 1024, shmFreeMb = 15 * 1024)

  /** The pair line as a strict consumer sees it: written, then re-read. */
  private val plan = Scaling.plan(host)
  private def line(pr: PairResult) = Json.read(Json.write(Scaling.json(pr, plan)))

  private def near(n: com.fasterxml.jackson.databind.JsonNode, k: String,
                   v: Double, tol: Double = 1e-3): Unit =
    assert(n.get(k).isNumber && math.abs(n.get(k).asDouble - v) < tol,
      s"$k: want $v in $n")

  test("median: odd, even, empty") {
    assert(Scaling.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Scaling.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Scaling.median(Nil).isNaN)
  }

  test("iterMedianMs regroups samples by trial and takes min of trial medians") {
    // 3 trials x 3 iters; trial medians 20, 700, 30 -> a single clean trial
    // (the first) must win even when later trials are noise-buried
    val r = RunResult(cpus = 4, vertices = 10, edges = 10, iters = 3,
      seconds = 1.0, trialSecs = Seq(1.0, 2.0, 3.0),
      iterMs = Seq(10, 20, 1000, 650, 700, 800, 25, 30, 40))
    assert(r.iterMedianMs == 20.0)
  }

  test("iterMedianMs is NaN without samples; teps/itersPerSec from wall") {
    val r = RunResult(4, 100, 1000, 10, 2.0)
    assert(r.iterMedianMs.isNaN)
    assert(r.itersPerSec == 5.0)
    assert(r.teps == 2.0 * 1000 * 10 / 2.0)
  }

  private def fork(cpus: Int, iters: Int, ms: Seq[Double], wall: Double) =
    RunResult(cpus, 10, 10, iters, wall, Seq(wall), ms)

  test("effRobust = (medLo/medHi)/(cpusHi/cpusLo), min over forks per level") {
    // lo forks: medians 400 and 380 -> 380; hi forks: 120 and 100 -> 100
    val pr = PairResult(
      loForks = Seq(fork(4, 3, Seq(400, 400, 400), 1.2),
                    fork(4, 3, Seq(380, 380, 380), 1.14)),
      hiForks = Seq(fork(16, 3, Seq(120, 120, 120), 0.36),
                    fork(16, 3, Seq(100, 100, 100), 0.30)),
      cpusLo = 4, cpusHi = 16)
    assert(math.abs(pr.effRobust - (380.0 / 100.0) / 4.0) < 1e-12)
    assert(pr.eff == pr.effRobust)
    assert(pr.effCapped == pr.eff) // 0.95 < 1: cap inert
  }

  test("effCapped caps super-unit ratios at 1.0 but eff keeps the raw value") {
    val pr = PairResult(
      loForks = Seq(fork(4, 3, Seq(500, 500, 500), 1.5)),
      hiForks = Seq(fork(16, 3, Seq(100, 100, 100), 0.3)),
      cpusLo = 4, cpusHi = 16)
    assert(pr.eff == 1.25)
    assert(pr.effCapped == 1.0)
  }

  test("eff falls back to wall ratio when per-iteration samples are absent") {
    val pr = PairResult(
      loForks = Seq(RunResult(4, 10, 10, 10, 8.0)),
      hiForks = Seq(RunResult(16, 10, 10, 10, 2.5)),
      cpusLo = 4, cpusHi = 16)
    assert(pr.effRobust.isNaN)
    assert(math.abs(pr.eff - (8.0 / 2.5) / 4.0) < 1e-12)
    assert(math.abs(pr.effWall - pr.eff) < 1e-12)
  }

  test("iterMedianMs prefers explicit per-trial medians (capped trials)") {
    // flat samples would regroup as trials of 3 and read min 20; the
    // explicit medians (e.g. from a wall-capped trial with fewer samples)
    // must win
    val r = RunResult(4, 10, 10, 3, 1.0, Seq(1.0),
      iterMs = Seq(20, 20, 20, 700, 700, 700),
      trialIterMeds = Seq(25.0, 700.0))
    assert(r.iterMedianMs == 25.0)
  }

  test("effWall normalizes per iteration when legs run unequal counts") {
    // equal-wall trials: lo 40 iters in 8 s, hi 160 iters in 8 s
    // per-iter lo 0.2 s, hi 0.05 s -> (0.2/0.05)/4 = 1.0 exactly; the
    // un-normalized wall ratio would read (8/8)/4 = 0.25
    val pr = PairResult(
      loForks = Seq(RunResult(4, 10, 10, 40, 8.0)),
      hiForks = Seq(RunResult(16, 10, 10, 160, 8.0)),
      cpusLo = 4, cpusHi = 16)
    assert(math.abs(pr.effWall - 1.0) < 1e-12)
  }

  test("json emits the headline, raw, wall and per-fork evidence fields") {
    val pr = PairResult(
      loForks = Seq(fork(4, 3, Seq(400, 400, 400), 1.2)),
      hiForks = Seq(fork(16, 3, Seq(100, 100, 100), 0.3)),
      cpusLo = 4, cpusHi = 16)
    val j = line(pr)
    for (k <- Seq("scaling_efficiency", "scaling_efficiency_raw",
        "wall_scaling_efficiency", "fork_iter_med_lo", "fork_iter_med_hi",
        "trials_lo", "trials_hi", "iters_per_sec_lo", "iters_per_sec_hi",
        "teps_lo", "teps_hi", "protocol"))
      assert(j.has(k), s"missing $k in $j")
    // throughput must derive from the robust per-iteration estimate
    near(j, "iters_per_sec_lo", 2.5) // 1000/400
    near(j, "iters_per_sec_hi", 10.0) // 1000/100
    near(j, "scaling_efficiency", 1.0) // raw 1.0 uncapped
  }

  test("convergence gap: best-two fork medians per level; undefined -> null") {
    // lo medians 400/380/420 -> best two 380,400 -> gap 400/380-1
    val pr = PairResult(
      loForks = Seq(fork(4, 3, Seq(400, 400, 400), 1.2),
        fork(4, 3, Seq(380, 380, 380), 1.14),
        fork(4, 3, Seq(420, 420, 420), 1.26)),
      hiForks = Seq(fork(16, 3, Seq(100, 100, 100), 0.3)),
      cpusLo = 4, cpusHi = 16)
    assert(math.abs(pr.gapLo - (400.0 / 380.0 - 1.0)) < 1e-12)
    // one hi fork -> gap undefined -> +inf in code, null in the JSON
    assert(pr.gapHi.isInfinite)
    val j = line(pr)
    near(j, "conv_gap_lo", 0.0526, 1e-4)
    assert(j.get("conv_gap_hi").isNull, j)
    // per-fork trial counts are emitted (short redraws auditable)
    assert(j.get("fork_trials_lo").toString == "[1,1,1]", j)
    assert(j.get("fork_trials_hi").toString == "[1]", j)
    // two zero medians: 0/0 - 1 is NaN, which is null too, never bare NaN
    val zero = PairResult(
      loForks = Seq(fork(4, 3, Seq(0, 0, 0), 1.2), fork(4, 3, Seq(0, 0, 0), 1.2)),
      hiForks = Seq(fork(16, 3, Seq(100, 100, 100), 0.3)),
      cpusLo = 4, cpusHi = 16)
    assert(pr.gapLo.isFinite && zero.gapLo.isNaN)
    assert(line(zero).get("conv_gap_lo").isNull, line(zero))
  }

  test("prepStage: reuse on a matching key; a rebuild drops the key first") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-prep")
    val key = dir.resolve("edges-key.txt")
    var builds = 0
    Scaling.prepStage(key, "a") { builds += 1 }
    assert(Files.readString(key).trim == "a" && builds == 1)
    Scaling.prepStage(key, "a") { builds += 1 }
    assert(builds == 1, "same key: reused")
    // a rebuild for another key must not leave the old key valid while it
    // overwrites the tables, nor a key at all if it crashes part-way
    val crash = intercept[IllegalStateException] {
      Scaling.prepStage(key, "b") {
        assert(!Files.exists(key), "stale key still present mid-rebuild")
        throw new IllegalStateException("killed mid-rebuild")
      }
    }
    assert(crash.getMessage == "killed mid-rebuild")
    assert(!Files.exists(key), "a crashed rebuild leaves no key")
    Scaling.prepStage(key, "a") { builds += 1 }
    assert(builds == 2 && Files.readString(key).trim == "a")
  }

  test("plan: a 4-cpu/15 GB box runs 1->4 with heaps that fit") {
    val p = Scaling.plan(Host(nproc = 4, memMb = 15 * 1024, shmFreeMb = 15 * 1024))
    assert(p.cpusLo == 1 && p.cpusHi == 4 && p.prepCpus == 4)
    // the leg and prep heaps, never both at once, stay inside RAM
    assert(p.legHeapMb == 15 * 1024 / 4 && p.prepHeapMb == 15 * 1024 / 2)
    assert(p.nConv == 6000000L * p.legHeapMb / (30 * 1024) && p.nConv < 6000000L)
    assert(p.legTmpfs)
    // no room in /dev/shm: the legs shuffle on disk
    assert(!Scaling.plan(Host(4, 15 * 1024, shmFreeMb = 1024)).legTmpfs)
  }

  test("plan: a 32-cpu/128 GB host gets the 4->16/30g/64g/6M/tmpfs defaults") {
    // MemTotal reads ~98% of the installed RAM (16 GiB reads 16070 MB)
    for (memMb <- Seq(128L * 1024, 128L * 1024 * 98 / 100, 128L * 1024 * 96 / 100)) {
      val p = Scaling.plan(Host(nproc = 32, memMb = memMb, shmFreeMb = 64 * 1024))
      assert(p.cpusLo == 4 && p.cpusHi == 16 && p.prepCpus == 32, p)
      assert(p.legHeapMb == 30 * 1024 && p.prepHeapMb == 64 * 1024, p)
      assert(p.nConv == 6000000L && p.legTmpfs, p)
    }
    // well under the cap, RAM/2 is the prep heap
    assert(Scaling.plan(Host(32, 96 * 1024, 48 * 1024)).prepHeapMb == 48 * 1024)
  }

  test("a leg line round-trips through write and strict read into an equal RunResult") {
    for (r <- Seq(
        RunResult(4, 20996, 1958753, 40, 12.345678901234,
          trialSecs = Seq(12.345678901234, 13.1, 14.000000000001),
          iterMs = Seq(301.0, 299.5, 0.1 + 0.2), trialIterMeds = Seq(300.25, 310.0)),
        // a leg whose every drain came back empty: no per-trial medians
        RunResult(1, 10, 20, 3, 2.0, trialSecs = Seq(2.0), trialIterMeds = Nil))) {
      val text = Json.write(Scaling.runJson(r))
      assert(!text.contains("NaN"), text)
      assert(Scaling.runResult(Json.read(text)) == r, text)
    }
    // strict: a bare NaN is refused, never read as a number
    intercept[Exception](Json.read("""{"seconds":NaN}"""))
  }

  test("JSON is written as ASCII only and non-ASCII text round-trips") {
    val o = Json.obj().put("note", "1 \u2014 2, \u00e9")
    val text = Json.write(o)
    assert(text.forall(_ < 0x80), text)
    assert(text.contains("\\u2014"), text)
    assert(Json.read(text).get("note").asText == "1 \u2014 2, \u00e9", text)
  }

  test("a pair line parses strictly, carries host, and has no secondary pair") {
    val pr = PairResult(
      loForks = Seq(fork(4, 3, Seq(400, 400, 400), 1.2), RunResult(4, 10, 10, 3, 1.5)),
      hiForks = Seq(fork(16, 3, Seq(100, 100, 100), 0.3)),
      cpusLo = 4, cpusHi = 16)
    val text = Json.write(Scaling.json(pr, plan))
    assert(!text.contains("NaN") && !text.contains("Infinity"), text)
    val j = Json.read(text)
    assert(j.get("host").get("nproc").asInt == 4, j)
    assert(!j.has("secondary_8_to_32"), j)
    // the derived plan rides along: a disk-shuffle leg is visible
    assert(j.get("plan").get("leg_heap_mb").asLong == 15 * 1024 / 4, j)
    assert(j.get("plan").get("leg_shuffle").asText == "tmpfs", j)
    val disk = Json.read(Json.write(Scaling.json(pr, plan.copy(legTmpfs = false))))
    assert(disk.get("plan").get("leg_shuffle").asText == "disk", disk)
    // a fork with no samples has an undefined median: null, not bare NaN
    assert(j.get("fork_iter_med_lo").get(1).isNull, j)
    assert(j.get("protocol").asText.contains("tol 5%"), j)
  }
}
