package graft.functions

import graft.SparkSpec
import graft.llm.TextAnalysis
import org.apache.spark.sql.functions._

/** Pins graft.functions.PolyHash's fold, (acc*31 + char) % mod from
  * acc0 = 0, through the Column API the MinHash pipeline calls. */
class PolyHashSpec extends SparkSpec {

  test("PolyHash pins exact per-step-mod semantics") {
    def h(s: String, mod: Long): Long =
      spark.range(1).select(PolyHash(lit(s), mod)).head().getLong(0)
    // 'a'=97, 'b'=98: (0*31+97)=97; (97*31+98)=3105
    h("ab", TextAnalysis.FpMod) shouldBe 3105L
    // per-step mod 100: 97%100=97; (97*31+98)%100=5
    h("ab", 100L) shouldBe 5L
  }
}
