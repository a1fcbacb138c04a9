package graft

import java.util.concurrent.CountDownLatch

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

/** Contract of [[SessionMemo]], the one memo every plan-keyed session
  * cache in graft is built on: the hash index is never proof, the proof
  * is never rendered on an index miss, and every value the memo drops
  * (eviction, displacement, a lost build race, clear) reaches `onEvict`,
  * so no persisted frame stays cached once the memo lets go of it. */
class SessionMemoSpec extends AnyFunSuite {

  /** A value with reference identity, standing in for a persisted frame. */
  private final class Frame(val id: String) {
    override def toString: String = id
  }

  private def memo(capacity: Int) = {
    val evicted = ArrayBuffer.empty[Frame]
    val m = new SessionMemo[Frame]("spec", capacity,
      f => evicted.synchronized(evicted += f))
    (m, evicted)
  }

  private def key(variant: String) = SessionMemo.Key(1, 42, variant)

  test("an equal index under a different proof is a miss that builds " +
      "and never returns the other entry's value") {
    val (m, evicted) = memo(4)
    val a = new Frame("a")
    m.put(key("v"), "plan-a", a)
    assert(m.get(key("v"), "plan-b").isEmpty)
    var builds = 0
    val b = new Frame("b")
    val got = m.getOrBuild(key("v"), "plan-b") { builds += 1; b }
    assert((got eq b) && builds == 1)
    assert(m.get(key("v"), "plan-b").exists(_ eq b))
    assert(m.get(key("v"), "plan-a").isEmpty,
      "the displaced entry must not answer under its old proof")
    assert(evicted.toSeq == Seq(a), "the displaced value must reach onEvict")
    assert(m.size == 1)
    // a hit builds nothing
    assert(m.getOrBuild(key("v"), "plan-b") { builds += 1; a } eq b)
    assert(builds == 1)
  }

  test("eviction at capacity calls onEvict for exactly the LRU value") {
    val (m, evicted) = memo(2)
    val (f1, f2, f3) = (new Frame("1"), new Frame("2"), new Frame("3"))
    m.put(key("1"), "p", f1)
    m.put(key("2"), "p", f2)
    assert(m.get(key("1"), "p").isDefined) // touch: 2 is now eldest
    m.put(key("3"), "p", f3)
    assert(evicted.toSeq == Seq(f2))
    assert(m.size == 2)
    assert(m.get(key("2"), "p").isEmpty)
    assert(m.get(key("1"), "p").exists(_ eq f1))
    assert(m.get(key("3"), "p").exists(_ eq f3))
  }

  test("the loser of a concurrent getOrBuild on one key reaches onEvict") {
    val (m, evicted) = memo(4)
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = new Frame("slow")
    val fast = new Frame("fast")
    @volatile var slowResult: Frame = null
    val t = new Thread(() => {
      slowResult = m.getOrBuild(key("k"), "p") {
        started.countDown()
        release.await()
        slow
      }
    })
    t.start()
    started.await()
    // the slow build is in flight outside the lock; this one wins
    assert(m.getOrBuild(key("k"), "p")(fast) eq fast)
    release.countDown()
    t.join(30000)
    assert(!t.isAlive)
    assert(slowResult eq fast, "the loser must receive the stored winner")
    assert(evicted.toSeq == Seq(slow),
      "the losing build must be released, or its cache blocks leak")
    assert(m.size == 1)
    assert(m.get(key("k"), "p").exists(_ eq fast))
  }

  test("clear() runs onEvict on every entry") {
    val (m, evicted) = memo(8)
    val fs = (1 to 3).map(i => new Frame(i.toString))
    fs.foreach(f => m.put(key(f.id), "p", f))
    m.clear()
    assert(m.size == 0)
    assert(evicted.toSet == fs.toSet && evicted.size == 3)
    assert(fs.forall(f => m.get(key(f.id), "p").isEmpty))
  }

  test("a miss on the index never evaluates the proof") {
    val (m, _) = memo(4)
    def boom: String = fail("proof rendered on an index miss")
    assert(m.get(key("absent"), boom).isEmpty)
    m.put(key("present"), "p", new Frame("x"))
    assert(m.get(key("other"), boom).isEmpty)
    assert(m.misses == 2)
    // a build evaluates it once, to store it
    var renders = 0
    m.getOrBuild(key("new"), { renders += 1; "q" })(new Frame("y"))
    assert(renders == 1)
    assert(m.misses == 3)
  }

  test("frames are indexed by plan and proved by canonical plan + data " +
      "snapshot: an identical plan hits, different data misses") {
    val s = Fixture.init()
    import s.implicits._
    val m = new SessionMemo[Long]("spec-df", 4)
    var builds = 0
    def count(df: org.apache.spark.sql.DataFrame): Long =
      m.getOrBuild(df, "count") { builds += 1; df.count() }
    assert(count(Seq(1L, 2L).toDF("id")) == 2L)
    assert(count(Seq(1L, 2L).toDF("id")) == 2L)
    assert(builds == 1, "a semantically equal plan must hit")
    assert(count(Seq(1L, 2L, 3L).toDF("id")) == 3L)
    assert(builds == 2, "different data must miss")
  }
}
