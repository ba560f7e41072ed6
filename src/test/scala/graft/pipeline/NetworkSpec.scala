package graft.pipeline

import graft.SparkSpec
import org.scalatest.prop.TableDrivenPropertyChecks
import scala.util.Random

class NetworkSpec extends SparkSpec with TableDrivenPropertyChecks {

  private def cooDF(entries: Seq[(Int, Int, Double)]) = {
    val s = spark; import s.implicits._
    entries.toDF("sample", "probe", "value")
  }

  private def naivePearson(x: Seq[Double], y: Seq[Double]): Double = {
    val n = x.size
    val mx = x.sum / n; val my = y.sum / n
    val cov = x.zip(y).map { case (a, b) => (a - mx) * (b - my) }.sum
    val sx = math.sqrt(x.map(a => (a - mx) * (a - mx)).sum)
    val sy = math.sqrt(y.map(b => (b - my) * (b - my)).sum)
    cov / (sx * sy)
  }

  test("pearsonEdges matches a naive oracle on a random dense matrix") {
    val rnd = new Random(7)
    val nSamples = 20; val nProbes = 8
    val m = Array.fill(nProbes)(Array.fill(nSamples)(rnd.nextDouble() * 10))
    // make probes 2,5 strongly correlated with probe 0
    for (s <- 0 until nSamples) {
      m(2)(s) = m(0)(s) * 3.0 + 1.0 + rnd.nextGaussian() * 0.01
      m(5)(s) = -m(0)(s) * 2.0 + rnd.nextGaussian() * 0.01
    }
    val coo = for {
      p <- 0 until nProbes; s <- 0 until nSamples
    } yield (s, p, m(p)(s))
    val got = Network.pearsonEdges(cooDF(coo), 0.0)
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2)))
      .toMap
    for { i <- 0 until nProbes; j <- i + 1 until nProbes } {
      val expected = naivePearson(m(i).toSeq, m(j).toSeq)
      assert(
        math.abs(got((i, j)) - expected) < 1e-9,
        s"pair ($i,$j): got ${got((i, j))}, naive $expected")
    }
  }

  test("pearsonEdges threshold + NaN guard: constant probe excluded") {
    // probe 1 constant → zero variance → NaN r → must be filtered (F5)
    val coo = (0 until 10).flatMap(s =>
      Seq((s, 0, s.toDouble), (s, 1, 5.0), (s, 2, s * 2.0 + 1)))
    val edges = Network.pearsonEdges(cooDF(coo), 0.9).collect()
    assert(edges.map(r => (r.getInt(0), r.getInt(1))).toSet == Set((0, 2)))
    assert(math.abs(edges.head.getDouble(2) - 1.0) < 1e-9)
  }

  test("pearsonEdgesDense matches relational pearsonEdges on a complete matrix") {
    val rnd = new Random(13)
    val nSamples = 15; val nProbes = 10
    val coo = for {
      p <- 0 until nProbes; s <- 0 until nSamples
    } yield (s, p, rnd.nextDouble() * 4 - 2)
    val df = cooDF(coo)
    def toMap(edges: org.apache.spark.sql.DataFrame) = edges.collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    val rel = toMap(Network.pearsonEdges(df, 0.1))
    val dense = toMap(Network.pearsonEdgesDense(spark, df, 0.1))
    assert(rel.keySet == dense.keySet)
    rel.foreach { case (k, v) => assert(math.abs(dense(k) - v) < 1e-9, s"$k") }
  }

  private def unionFind(n: Int, edges: Seq[(Int, Int)]): Map[Int, Int] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    verts.map(v => v -> find(v)).toMap
  }

  test("connectedComponents (GraphX) and DF fallback match union-find on random graphs") {
    val s = spark; import s.implicits._
    val rnd = new Random(11)
    for (trial <- 1 to 3) {
      val n = 30
      val edges = (1 to 40).map(_ => (rnd.nextInt(n), rnd.nextInt(n)))
        .filter(e => e._1 != e._2).distinct
      val df = edges.toDF("pi", "pj")
      val oracle = unionFind(n, edges)
      // canonicalize both sides to min-id-per-component
      def canon(labels: Map[Int, Int]): Map[Int, Int] = {
        val minOf = labels.groupBy(_._2).map { case (c, m) => c -> m.keys.min }
        labels.map { case (v, c) => v -> minOf(c) }
      }
      val gx = Network.connectedComponents(spark, df)
        .collect().map(r => r.getLong(0).toInt -> r.getLong(1).toInt).toMap
      val dfl = Network.connectedComponentsDF(df)
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(canon(gx) == canon(oracle), s"GraphX trial $trial")
      assert(canon(dfl) == canon(oracle), s"DF-loop trial $trial")
      // A6 determinism pin (r15 pipeline review): the label IS the min
      // probe id of its component — asserted DIRECTLY, because canon()
      // above erases the label choice, and filterMatrix's
      // reps-=-distinct(component) shortcut depends on exactly this
      // invariant (a CC swap converging to any other canonical member
      // would pass the canonicalized compare and silently break A6)
      def minLabeled(labels: Map[Int, Int]): Boolean =
        labels.groupBy(_._2).forall { case (c, members) => c == members.keys.min }
      assert(minLabeled(gx), s"GraphX labels not min-id, trial $trial")
      assert(minLabeled(dfl), s"DF-loop labels not min-id, trial $trial")
    }
  }

  test("denseFootprintBytes prices the reference shape and the gate bounds it") {
    // reference corpus: 62 samples × 21.5k probes → ~37 MB at the
    // 28 B/cell peak model, well inside the 256 MB default budget →
    // dense path
    val refBytes = Network.denseFootprintBytes(62, 21500)
    assert(refBytes == 62L * 21500 * 28)
    assert(refBytes <= Network.DefaultMaxDenseBytes)
    // 10k samples × 1M probes (a 100 TB-scale matrix) → ~200 GB —
    // must NOT be collected to any driver
    assert(Network.denseFootprintBytes(10000, 1000000) > Network.DefaultMaxDenseBytes)
  }

  test("apply falls back to the relational path when the footprint exceeds the budget") {
    val rnd = new Random(23)
    val nSamples = 15; val nProbes = 10
    val coo = for {
      p <- 0 until nProbes; s <- 0 until nSamples
    } yield (s, p, rnd.nextDouble() * 4 - 2)
    val df = cooDF(coo)
    // same matrix, both paths, forced via the budget conf: a budget of
    // 0 bytes forbids the dense collect; a huge budget allows it. Both
    // must produce identical surviving probes.
    def survivors(maxBytes: Long): Set[Int] = {
      spark.conf.set("spark.graft.pearson.maxDenseBytes", maxBytes.toString)
      try Network(spark, df, Some(0.5))
        .select("probe").distinct().collect().map(_.getInt(0)).toSet
      finally spark.conf.unset("spark.graft.pearson.maxDenseBytes")
    }
    assert(Network.denseFootprintBytes(nSamples, nProbes) > 0L)
    assert(survivors(0L) == survivors(Long.MaxValue))
  }

  test("connectedComponentsDF fails loudly when maxIter is too small") {
    val s = spark; import s.implicits._
    // a path graph 0-1-2-...-9 has diameter 9 — 2 iterations cannot
    // propagate the min label to the far end
    val chain = (0 until 9).map(i => (i, i + 1)).toDF("pi", "pj")
    val e = intercept[IllegalArgumentException] {
      Network.connectedComponentsDF(chain, maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))
    // and with enough iterations the same graph converges to one component
    val labels = Network.connectedComponentsDF(chain, maxIter = 20)
      .collect().map(r => r.getInt(1)).toSet
    assert(labels == Set(0))
  }

  test("filterMatrix keeps one representative per component + untouched probes") {
    val s = spark; import s.implicits._
    // probes 0-1-2 one component, 3-4 another, 5 untouched
    val coo = (0 until 4).flatMap(smp => (0 to 5).map(p => (smp, p, smp * 10.0 + p)))
    val comps = Seq((0, 0), (1, 0), (2, 0), (3, 3), (4, 3)).toDF("probe", "component")
    val surviving = Network.filterMatrix(cooDF(coo), comps)
      .select("probe").distinct().collect().map(_.getInt(0)).toSet
    assert(surviving == Set(0, 3, 5))
  }

  test("block-correlated synthetic matrix recovers ground-truth components (P3)") {
    val rnd = new Random(5)
    val nSamples = 30
    // two independent latent signals; probes 0-2 follow signal A,
    // probes 3-5 follow signal B, probe 6 is noise
    val a = Array.fill(nSamples)(rnd.nextGaussian())
    val b = Array.fill(nSamples)(rnd.nextGaussian())
    val probes: Seq[Array[Double]] = Seq(
      a.map(_ * 2.0), a.map(_ * -1.5 + 3), a.map(_ * 0.5),
      b.map(_ * 1.0), b.map(_ * 4.0 - 1), b.map(_ * -2.0),
      Array.fill(nSamples)(rnd.nextGaussian()))
    val coo = for {
      (vals, p) <- probes.zipWithIndex; s <- 0 until nSamples
    } yield (s, p, vals(s))
    val edges = Network.pearsonEdges(cooDF(coo), 0.95)
    val comps = Network.connectedComponents(spark, edges)
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1).toInt).toMap
    assert(comps.keySet == Set(0, 1, 2, 3, 4, 5))
    assert(Set(comps(0), comps(1), comps(2)).size == 1)
    assert(Set(comps(3), comps(4), comps(5)).size == 1)
    assert(comps(0) != comps(3))
  }

  /** A random block-correlated matrix with the shapes the dense kernel
    * must get right: correlated blocks, a zero-variance probe, a
    * negatively correlated pair, and a chain p0-p1-p2-p3 whose links
    * are edges (r = 0.5) while its non-adjacent pairs are not (r = 0),
    * spread over the probe order so its edges fall in different kernel
    * tasks. Probe ids are shuffled and non-contiguous. Returns the COO
    * rows and the chain's probe ids.
    */
  private def kernelCase(seed: Int, nSamples: Int): (Seq[(Int, Int, Double)], Seq[Int]) = {
    val rnd = new Random(seed)
    val blocks = (0 until 4).flatMap { _ =>
      val signal = Array.fill(nSamples)(rnd.nextGaussian())
      Seq.fill(2 + rnd.nextInt(4))(
        signal.map(v => v * (rnd.nextDouble() + 0.5) + rnd.nextGaussian() * 0.1))
    }
    val noise = Seq.fill(8)(Array.fill(nSamples)(rnd.nextGaussian()))
    val constant = Array.fill(nSamples)(3.25)
    val negA = Array.fill(nSamples)(rnd.nextGaussian())
    val negB = negA.map(v => -2.0 * v + rnd.nextGaussian() * 0.01)
    // zero-mean, mutually orthogonal cosines: p_k = e_k + e_(k+1)
    def e(k: Int) = Array.tabulate(nSamples)(s => math.cos(2 * math.Pi * k * s / nSamples))
    val chain = (1 to 4).map(k => e(k).zip(e(k + 1)).map { case (a, b) => a + b })
    val others = rnd.shuffle(blocks ++ noise ++ Seq(constant, negA, negB))
    // chain members at the start, middle and end of the probe order
    val third = others.size / 3
    val rows = Seq(chain(0)) ++ others.take(third) ++ Seq(chain(1)) ++
      others.slice(third, 2 * third) ++ Seq(chain(2)) ++ others.drop(2 * third) ++ Seq(chain(3))
    val ids = rows.indices.map(_ * 7 + 3) // ascending in row order
    val chainIds = Seq(0, third + 1, 2 * third + 2, rows.size - 1).map(ids)
    val coo = rnd.shuffle(for {
      (vals, p) <- rows.zip(ids); s <- 0 until nSamples
    } yield (s, p, vals(s)))
    (coo, chainIds)
  }

  private def vectors(features: org.apache.spark.sql.DataFrame): Map[Int, Array[Double]] =
    features.collect().map(r =>
      r.getInt(0) -> r.getAs[org.apache.spark.ml.linalg.Vector](1).toArray).toMap

  test("fused dense kernel matches pearsonEdgesDense → GraphX CC → filterMatrix → assembleFeatures") {
    val t = 0.45
    for (seed <- 1 to 3) {
      val (coo, chainIds) = kernelCase(seed, nSamples = 40)
      val df = cooDF(coo)
      // the chain is one component through three edges, no shortcut
      val edgeDf = Network.pearsonEdgesDense(spark, df, t)
      val edges = edgeDf.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      chainIds.sliding(2).foreach { case Seq(a, b) => assert(edges.contains((a, b)), s"seed $seed") }
      assert(!edges.contains((chainIds(0), chainIds(2))), s"seed $seed")
      assert(edges.values.exists(_ <= -t), s"seed $seed: no negative edge")

      val filtered = Network.filterMatrix(df, Network.connectedComponents(spark, edgeDf))
      val legacySurvivors = filtered.select("probe").distinct().collect().map(_.getInt(0)).toSet
      val legacyVectors = vectors(Svm.assembleFeatures(filtered))

      val d = Network.collectDense(spark, df)
      val constantId = d.probes(d.values.indexWhere(vs => vs.distinct.length == 1))
      assert(legacySurvivors.contains(constantId), s"seed $seed: zero-variance probe dropped")
      // one kernel task, a few multi-row tasks, one row per task
      for (parts <- Seq(Some(1), Some(3), None)) {
        val got = Network.denseSurvivors(spark, d.values, t, parts).map(d.probes).toSet
        assert(got == legacySurvivors, s"seed $seed, partitions $parts")
      }
      val (features, nAfter) = Network.denseFeatures(spark, df, Some(t))
      assert(nAfter == legacySurvivors.size)
      val fused = vectors(features)
      assert(fused.keySet == legacyVectors.keySet, s"seed $seed")
      fused.foreach { case (sample, v) =>
        assert(java.util.Arrays.equals(v, legacyVectors(sample)), s"seed $seed, sample $sample")
      }
    }
  }

  test("fused dense kernel without a threshold keeps every probe") {
    val (coo, _) = kernelCase(4, nSamples = 20)
    val df = cooDF(coo)
    val (features, nAfter) = Network.denseFeatures(spark, df, None)
    assert(nAfter == df.select("probe").distinct().count())
    val legacy = vectors(Svm.assembleFeatures(df))
    val fused = vectors(features)
    assert(fused.keySet == legacy.keySet)
    fused.foreach { case (s, v) => assert(java.util.Arrays.equals(v, legacy(s)), s"sample $s") }
  }

  test("fused dense kernel fails loudly on an incomplete matrix or a duplicate observation") {
    val full = for { s <- 0 until 6; p <- 0 until 4 } yield (s, p, s * 1.5 + p * p)
    val incomplete = full.filterNot(_ == full(5))
    val duplicateCell = full :+ full(5)
    // a whole sample repeated: every probe sees the same (duplicated)
    // sample sequence, so only the once-per-probe check catches it
    val duplicateSample = full ++ full.filter(_._1 == 2)
    for ((name, rows) <- Seq(
        "incomplete" -> incomplete, "duplicate cell" -> duplicateCell,
        "duplicate sample" -> duplicateSample)) {
      val df = cooDF(rows)
      // the relational assembly rejects the same inputs (probe_sig)
      assertThrows[IllegalArgumentException](Svm.assembleFeatures(df))
      for (t <- Seq(Some(0.5), None)) {
        val e = intercept[IllegalArgumentException](Network.denseFeatures(spark, df, t))
        assert(e.getMessage.contains("complete matrix"), s"$name, threshold $t: ${e.getMessage}")
      }
    }
  }
}
