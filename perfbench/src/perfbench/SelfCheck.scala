package perfbench

/** The benchmark's own checks, run before every measurement: generator
  * determinism, the tail-percentile rule, and open-loop pacing. Each
  * returns the names of the checks that failed. */
object SelfCheck {

  def all(seed: Long): Seq[String] = determinism(seed) ++ percentileRule() ++ openLoop(seed)

  /** The same seed gives byte-identical inputs, another seed different
    * ones, and an input's expectation travels with its bytes. */
  def determinism(seed: Long): Seq[String] = {
    def sample(s: Long) = (
      Gen.composer(s, "check").fill(32 << 10).result(),
      (0 until 8).map(i => Gen.body(s, i)),
      Gen.state(s).batches.head.take(50))
    val (a, b, c) = (sample(seed), sample(seed), sample(seed + 1))
    Seq(
      Option.when(a != b)("generator: same seed, different inputs"),
      Option.when(a._1.text == c._1.text || a._3 == c._3)("generator: another seed, same inputs"),
      Option.when(a._1.expect.total <= 0 || a._2.exists(_.expect.total <= 0))("generator: an input expects no records")
    ).flatten
  }

  /** Nearest-rank tail: 100 samples → p90 (ten above), 200 → p95, ten →
    * none. */
  def percentileRule(): Seq[String] = {
    def xs(n: Int) = scala.util.Random.shuffle((1 to n).map(_.toDouble))
    Seq(
      Option.when(Stats.tail(xs(100)) != Some((90, 90.0)))(s"percentile rule: 100 samples gave ${Stats.tail(xs(100))}"),
      Option.when(Stats.tail(xs(200)) != Some((95, 190.0)))(s"percentile rule: 200 samples gave ${Stats.tail(xs(200))}"),
      Option.when(Stats.tail(xs(10)).isDefined)("percentile rule: 10 samples gave a tail"),
      Option.when(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) != 2.5)("median of an even count")
    ).flatten
  }

  /** Arrivals are seeded and average the asked rate; pacing never sends
    * early, so latency measured from the due time includes any wait. */
  def openLoop(seed: Long): Seq[String] = {
    val s = OpenLoop.schedule(seed, 200.0, 5.0)
    val due = System.nanoTime() + 2000000L
    OpenLoop.sleepUntil(due)
    val late = System.nanoTime() - due
    Seq(
      Option.when(s != OpenLoop.schedule(seed, 200.0, 5.0))("open loop: schedule not seeded"),
      Option.when(math.abs(s.size - 1000) > 150)(s"open loop: ${s.size} arrivals for 1000 expected"),
      Option.when(s.zip(s.drop(1)).exists { case (x, y) => y < x })("open loop: schedule out of order"),
      Option.when(late < 0)("open loop: sent before its due time")
    ).flatten
  }
}
