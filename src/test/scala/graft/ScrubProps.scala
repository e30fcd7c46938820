package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.operators.AdaptiveScrub

/** Round-12 branch-equality pins for the adaptive boilerplate scrub
  * (d52's gate): the bloom-sketch arm may only OVER-scrub relative to
  * the exact broadcast-set arm (sketch false positives cover extra
  * spans — one-sided by construction), and wherever the sketch fired no
  * false positive the two arms are row-identical. Few cases (Spark job
  * per case), planted-template corpora.
  */
object ScrubProps extends Properties("adaptive-scrub") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = SparkTestBase.spark

  /** A corpus where some docs share a planted template sentence (df >= 3
    * boilerplate) atop per-doc random filler words. */
  private val genCorpus: Gen[Seq[(Long, String)]] = for {
    nDocs <- Gen.chooseNum(6, 14)
    tmplWords <- Gen.listOfN(7, Gen.oneOf(
      "privacy", "policy", "click", "here", "subscribe", "terms", "cookie",
      "accept", "newsletter", "unsubscribe"))
    seeds <- Gen.listOfN(nDocs, Gen.chooseNum(0, Int.MaxValue))
  } yield {
    val tmpl = tmplWords.mkString(" ")
    seeds.zipWithIndex.map { case (seed, i) =>
      val rnd = new scala.util.Random(seed)
      val filler = Seq.fill(6 + rnd.nextInt(20))(s"w${rnd.nextInt(40)}")
      // plant the template in (at least) every other doc so df >= 3
      val text =
        if (i % 2 == 0) (filler.take(4) ++ tmpl.split(" ") ++ filler.drop(4))
          .mkString(" ")
        else filler.mkString(" ")
      (i.toLong, text)
    }
  }

  private def df(corpus: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    corpus.toDF("doc_id", "text")
  }

  property("sketch arm only over-scrubs: covered(set) ⊆ covered(sketch) per doc") =
    Prop.forAll(genCorpus) { corpus =>
      val docs = df(corpus)
      def covMap(c: AdaptiveScrub.Choice): Map[Long, Set[Int]] =
        AdaptiveScrub.coveredWith(docs, 3, c).collect()
          .map(r => r.getLong(0) ->
            r.getSeq[Int](1).toSet).toMap
      val set = covMap(AdaptiveScrub.BroadcastSet)
      val sk = covMap(AdaptiveScrub.BloomSketch)
      Prop(set.forall { case (d, pos) => pos.subsetOf(sk.getOrElse(d, Set.empty)) }) :|
        s"under-scrub: ${set.collect { case (d, p) if !p.subsetOf(sk.getOrElse(d, Set.empty)) => d }.take(3)}"
    }

  property("rows where the sketch fired no false positive are identical across arms") =
    Prop.forAll(genCorpus) { corpus =>
      val docs = df(corpus)
      def out(c: AdaptiveScrub.Choice): Map[Long, (Long, String)] =
        AdaptiveScrub.withChoice(docs, 3, c).collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      def covMap(c: AdaptiveScrub.Choice): Map[Long, Set[Int]] =
        AdaptiveScrub.coveredWith(docs, 3, c).collect()
          .map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
      val (setO, skO) = (out(AdaptiveScrub.BroadcastSet), out(AdaptiveScrub.BloomSketch))
      val (setC, skC) = (covMap(AdaptiveScrub.BroadcastSet), covMap(AdaptiveScrub.BloomSketch))
      // every doc appears in both arms; n_kept can only shrink under FPs
      val sameDocs = setO.keySet == skO.keySet
      val monotone = setO.forall { case (d, (n, _)) => skO(d)._1 <= n }
      val exactWhereNoFp = corpus.map(_._1).forall { d =>
        if (setC.getOrElse(d, Set.empty) == skC.getOrElse(d, Set.empty))
          setO(d) == skO(d)
        else true
      }
      Prop(sameDocs && monotone && exactWhereNoFp) :|
        s"sameDocs=$sameDocs monotone=$monotone exactWhereNoFp=$exactWhereNoFp"
    }

  property("spill path ≡ lazy path: rows and branch, both ceilings (round 13)") =
    Prop.forAll(genCorpus) { corpus =>
      val docs = df(corpus)
      def canon(d: org.apache.spark.sql.DataFrame): Seq[String] =
        d.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
      // exact-broadcast branch and forced-sketch branch (ceiling 0):
      // the spilled frequent set must reproduce the lazy subtree's rows
      val agree = Seq(Long.MaxValue, 0L).forall { ceil =>
        val spill = java.nio.file.Files.createTempDirectory("scrubspill")
        val (lazyOut, lazyChoice) = AdaptiveScrub(docs, 3, maxBroadcast = ceil)
        val (spillOut, spillChoice) =
          AdaptiveScrub.applySpilled(docs, spill.toString + "/freq", 3, ceil)
        val ok = lazyChoice == spillChoice && canon(lazyOut) == canon(spillOut)
        graft.TempCleanup.rmrf(spill.toFile)
        ok
      }
      Prop(agree) :| "spill path diverged from the lazy path"
    }

  property("the gate picks by measured frequent-set size") =
    Prop.forAll(genCorpus) { corpus =>
      val docs = df(corpus)
      // the planted template yields >= 3 frequent shingles; ceiling 0
      // must flip to the sketch, a huge ceiling to the exact set
      val (_, tiny) = AdaptiveScrub(docs, 3, maxBroadcast = 0L)
      val (_, huge) = AdaptiveScrub(docs, 3, maxBroadcast = Long.MaxValue)
      Prop(tiny == AdaptiveScrub.BloomSketch &&
        huge == AdaptiveScrub.BroadcastSet) :| s"tiny=$tiny huge=$huge"
    }
}
