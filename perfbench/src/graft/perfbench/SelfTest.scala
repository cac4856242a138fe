package graft.perfbench

import java.io.File

import scala.collection.immutable.ListMap

/** Generator self-test: the same seed must give identical inputs, a
  * different seed different ones, and every workload set up from a
  * second seed must pass its oracle on a few ops. */
object SelfTest {

  def run(a: Main.Args): Unit = {
    val other = a.seed + 1
    val determinism = Workloads.names.map { n =>
      val first = Gen.fingerprint(Workloads(n).generated(a.seed))
      val again = Gen.fingerprint(Workloads(n).generated(a.seed))
      val second = Gen.fingerprint(Workloads(n).generated(other))
      require(first == again, s"$n: seed ${a.seed} gave different inputs on two calls")
      require(first != second, s"$n: seeds ${a.seed} and $other gave identical inputs")
      n -> first
    }
    val spark = Main.session(a)
    val ctx = new Ctx(spark, other, new Tracer)
    val oracle = Workloads.names.map { n =>
      val w = Workloads(n)
      w.setup(ctx, new File(a.work, s"selftest-$n"))
      // interactive: enough ops to draw most of the pool and re-publish
      val ops = if (n == "druid_interactive") 30 else 2
      val errors = (0 until ops).flatMap { i =>
        w.prepare(ctx, i)
        w.op(ctx, i).check()
      }
      errors.foreach(e => println(s"MISMATCH $n seed $other: $e"))
      n -> ListMap("ops" -> ops, "failed" -> errors.size)
    }
    val ok = oracle.forall(_._2("failed") == 0)
    println(Json(ListMap("selftest" -> ListMap("seed" -> a.seed, "fingerprints" -> ListMap(determinism: _*),
      "oracle_seed" -> other, "oracle" -> ListMap(oracle: _*), "passed" -> ok))))
    require(ok, "self-test: oracle mismatches (see MISMATCH lines)")
  }
}
