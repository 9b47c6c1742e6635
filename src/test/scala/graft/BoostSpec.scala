package graft

import graft.ml.Boost
import graft.ml.Boost.{Model, Stump}

class BoostSpec extends SparkSpec {

  test("fitStumps: hand-computed two-cell grid — f0, split choice, shrunk leaf weights") {
    // cells (u, v, n, k): y-mean 0 at u=0, 1 at u=1 — only the
    // (feat=0, thr=0) split separates; every quantity below is hand
    // arithmetic: f0 = 0.5, round-1 residual mass ∓5, leaves ν·(∓0.5)
    val grid = Seq((0, 0, 10L, 0L), (1, 0, 10L, 10L))
    val m = Boost.fitStumps(grid, rounds = 3, nu = 0.5, nBins = 16)
    assert(m.f0 == 0.5)
    assert(m.stumps(0) == Stump(0, 0, -0.25, 0.25))
    // geometric residual decay: each round halves what remains
    assert(m.stumps(1) == Stump(0, 0, -0.125, 0.125))
    assert(m.stumps(2) == Stump(0, 0, -0.0625, 0.0625))
  }

  test("fitStumps: additive OR pattern needs BOTH features — ensemble classifies all cells") {
    // y = u OR v: no single stump separates (0,0) from the rest; the
    // boosted ensemble must combine a u-split and a v-split
    val grid = Seq((0, 0, 10L, 0L), (0, 1, 10L, 10L),
      (1, 0, 10L, 10L), (1, 1, 10L, 10L))
    val m = Boost.fitStumps(grid, rounds = 8, nu = 0.5, nBins = 16)
    assert(m.stumps.map(_.feat).toSet == Set(0, 1),
      s"ensemble never split on both features: ${m.stumps}")
    def score(u: Int, v: Int): Double = m.stumps.foldLeft(m.f0) { (acc, st) =>
      acc + (if ((if (st.feat == 0) u else v) <= st.thr) st.wl else st.wr)
    }
    assert(score(0, 0) < 0.5, s"(0,0) -> ${score(0, 0)}")
    Seq((0, 1), (1, 0), (1, 1)).foreach { case (u, v) =>
      assert(score(u, v) > 0.5, s"($u,$v) -> ${score(u, v)}")
    }
  }

  test("fitStumps: degenerate one-sided grid stops without a split; empty grid is the prior") {
    val m = Boost.fitStumps(Seq((3, 3, 10L, 7L)), rounds = 5, nu = 0.5, nBins = 16)
    assert(m.f0 == 0.7 && m.stumps.isEmpty)
    assert(Boost.fitStumps(Nil, 5, 0.5, 16) == Model(0.0, Nil))
  }

  test("m18_boost_stumps: dense 2x2 output, learns well above the majority base rate") {
    // the first run's caches are freed, so the second computes again
    val cm = reclaimed(SparkEntry.queries("m18_boost_stumps")(spark, sf01)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))))
    assert(cm.map(t => (t._1, t._2)).toSeq ==
      Seq((0, 0), (0, 1), (1, 0), (1, 1)))
    val n = cm.map(_._3).sum
    val acc = cm.filter(t => t._1 == t._2).map(_._3).sum.toDouble / n
    val base = math.max(
      cm.filter(_._1 == 0).map(_._3).sum,
      cm.filter(_._1 == 1).map(_._3).sum).toDouble / n
    // measured 0.77 vs base 0.52 at sf0.01 — floor catches a model
    // collapse (all-one-class predictions land AT base)
    assert(acc > base + 0.05, s"acc=$acc base=$base")
    // training is deterministic driver arithmetic on a sorted grid —
    // two invocations must produce the identical matrix
    val again = SparkEntry.queries("m18_boost_stumps")(spark, sf01)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(again.toSeq == cm.toSeq)
  }
}
