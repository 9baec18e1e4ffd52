package perfbench

import graft.dedup.CodeFile

/** Seeded generator of the `batch_clones` corpus: a pure function of
  * (i, n, seed), so the Spark input and the driver-side oracle see the same
  * bytes.
  *
  * Index layout for a corpus of n files (sizes at n = 12,000 in brackets):
  *  - boilerplate family [2,160, 18%]: every member carries the same 6 rare
  *    tokens plus a random 10 of the 64 license-header tokens. The header
  *    tokens are above the max-df cap, so every member's SIGNATURE set is the
  *    same 6 tokens: one LSH bucket per band holds the whole family, above
  *    `Config.maxBucket` (2,000), and chain-linking fires in all 32 bands.
  *    Full sets share ~8 of ~26 tokens (Jaccard ~0.3), so the pairs the cap
  *    drops are not duplicates and recall does not depend on them.
  *  - one mega exact-dup class [150 copies]: byte-identical content under
  *    distinct keys, expanded to sim=1.0 pairs after candidate generation.
  *  - 12 near-dup families [40 members each]: a base set with 6 positions
  *    mutated per member from a family pool; every member pair is above the
  *    0.7 threshold, so verification, expansion and components see O(F^2)
  *    pairs per family.
  *  - singletons with repo-local identifiers; every 5th one embeds the
  *    previous singleton's whole content in keyword filler (a substring
  *    clone below the Jaccard threshold, for the substring detector).
  *  - the 64-token license header rides on ~30% of the plain singletons,
  *    the mega class and every third near-dup family.
  */
object ClonesGen {

  final case class Layout(n: Long) {
    val hot: Long = n * 9 / 50
    val mega: Long = n / 80
    val famSize: Long = math.max(4L, n / 300)
    val fams: Long = 12L
    val megaStart: Long = hot
    val famStart: Long = megaStart + mega
    val singleStart: Long = famStart + fams * famSize
    require(singleStart < n, s"corpus of $n files is too small for the clones layout")
  }

  private val langs = Array("scala", "java", "py", "go")
  private val header: Array[String] = Array.tabulate(64)(k => s"lic$k")
  private val keywords: Array[String] = Array.tabulate(300)(k => s"kw$k")

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private final class Rng(seed: Long) {
    private var s = seed
    def next(bound: Int): Int = { s = mix(s); (java.lang.Long.remainderUnsigned(s, bound.toLong)).toInt }
  }

  private def singletonBody(i: Long, seed: Long): Array[String] = {
    val r = new Rng(seed ^ (i * 0x5851f42d4c957f2dL))
    val repo = i / 100
    val len = 40 + r.next(60)
    Array.tabulate(len) { _ =>
      if (r.next(10) < 3) keywords(r.next(keywords.length)) else s"r${repo}v${r.next(200)}"
    }
  }

  private def familyBase(f: Long, seed: Long): Array[String] = {
    val r = new Rng(seed ^ (f * 0x2545f4914f6cdd1dL) ^ 0xfa11L)
    Array.tabulate(60 + r.next(30))(k => s"fam${f}t$k")
  }

  def file(i: Long, n: Long, seed: Long): CodeFile = {
    val l = Layout(n)
    val r = new Rng(seed ^ (i * 0x9e3779b97f4a7c15L) ^ 0xc10eL)
    val (lang, body, withHeader) =
      if (i < l.hot) {
        val picked = new scala.util.Random(mix(seed ^ i)).shuffle(header.toSeq).take(10)
        ("java", Array.tabulate(6)(k => s"bp$k") ++ picked, false)
      } else if (i < l.famStart) {
        // body of a notional file n: a namespace no other file uses
        ("py", singletonBody(n, seed), true)
      } else if (i < l.singleStart) {
        val f = (i - l.famStart) / l.famSize
        val base = familyBase(f, seed)
        val out = base.clone()
        var k = 0
        while (k < 6) { out(r.next(out.length)) = s"fam${f}m${r.next(40)}"; k += 1 }
        (langs((f % langs.length).toInt), out, f % 3 == 0)
      } else {
        val j = i - l.singleStart
        if (j % 5 == 4) {
          val src = singletonBody(i - 1, seed)
          val filler = Array.tabulate(2 * src.length)(_ => keywords(r.next(keywords.length)))
          (langs(((i - 1) % langs.length).toInt), filler.take(src.length) ++ src ++ filler.drop(src.length), false)
        } else (langs((i % langs.length).toInt), singletonBody(i, seed), java.lang.Math.floorMod(mix(seed ^ i), 10L) < 3)
      }
    val content = (if (withHeader) header ++ body else body).mkString(" ")
    val ext = lang
    CodeFile(f"repo${i / 100}%04d", f"src/f$i%06d.$ext", f"${mix(seed ^ i) & 0xffffffffffL}%010x", lang, content)
  }

  /** Pairs the generator relates on purpose: all pairs inside the
    * boilerplate family, the mega class and each near-dup family. The
    * oracle keeps those at or above the threshold as ground truth. */
  def plantedPairs(n: Long): Iterator[(Long, Long)] = {
    val l = Layout(n)
    def within(start: Long, size: Long): Iterator[(Long, Long)] =
      (start until start + size).iterator.flatMap(a => (a + 1 until start + size).iterator.map(b => (a, b)))
    within(0L, l.hot) ++ within(l.megaStart, l.mega) ++
      (0L until l.fams).iterator.flatMap(f => within(l.famStart + f * l.famSize, l.famSize))
  }
}
