package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Expected values come from numpy.percentile on the same inputs. */
class StatsSpec extends AnyFunSuite {
  private def near(a: Double, b: Double) = assert(math.abs(a - b) < 1e-9, s"$a != $b")

  test("percentile interpolates between closest ranks (numpy default)") {
    val xs = (1 to 10).map(_.toDouble)
    near(Stats.percentile(xs, 50), 5.5)
    near(Stats.percentile(xs, 90), 9.1)
    near(Stats.percentile(Seq(3.5, 1.25, 9.0, 4.0), 90), 7.5)
    near(Stats.percentile(Seq(5.0, 1, 4, 2, 3), 90), 4.6)
    near(Stats.percentile(Seq(2.0), 90), 2.0)
    near(Stats.percentile(xs, 0), 1.0)
    near(Stats.percentile(xs, 100), 10.0)
  }

  test("empty or out-of-range input is refused") {
    intercept[IllegalArgumentException](Stats.percentile(Nil, 50))
    intercept[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }
}
