package perfbench

/** Checks of the harness's own logic, run at the start of every run: a
  * run whose yardstick is broken must not report figures.
  */
object SelfTest {
  private def check(ok: Boolean, what: String): Unit =
    if (!ok) throw new IllegalStateException(s"harness self-test failed: $what")

  def run(): Unit = {
    val xs = (1 to 10).map(_.toDouble).reverse
    check(Stats.percentile(xs, 0.9) == 9.0, "p90 of 1..10 is 9 (nearest rank)")
    check(Stats.percentile(xs, 1.0) == 10.0, "p100 is the maximum")
    check(Stats.median(xs) == 5.0, "median of 1..10 is the lower middle, 5")
    check(Stats.median(Seq(3.0)) == 3.0, "median of one sample is that sample")
    check(Stats.percentile((1 to 100).map(_.toDouble), 0.9) == 90.0, "p90 of 1..100 is 90")

    val now = 2000000000L
    val m = new ShadowKV
    m.put("a", Array[Byte](1), 0L)
    m.put("a", Array[Byte](2), 1L) // newer version, long expired
    check(m.get("a", now).isEmpty, "a newer expired version hides an older live one")
    m.put("b", Array[Byte](3), 0L)
    m.delete("b")
    check(m.get("b", now).isEmpty, "a tombstone hides the value")
    m.put("b", Array[Byte](4), now + 10)
    check(m.get("b", now).map(_.toSeq).contains(Seq[Byte](4)), "a write after a delete is live")
    check(m.get("b", now + 10).isEmpty, "TTL expires at expiresAt")
    m.put("ab", Array[Byte](5), 0L)
    m.put("ac", Array[Byte](6), 0L)
    check(m.scanPrefix("a", now).map(_._1) == Vector("ab", "ac"), "prefix scan skips dead keys, in order")
    check(m.liveBytes(now) == 2 + 1 + 2 + 1 + 1 + 1, "live bytes count keys and values")
  }
}
