package graft.log

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** e2e_a12_object_durability as a local spec (the driver also
  * hash-verifies it against its constant oracle): the A12 durability
  * contract holds with the commit protocol running on object-store
  * semantics — conditional-put manifests, atomic whole-object data
  * puts, no locks, no rename (VERDICT r12 task #1; semantics per the
  * reference's simulation, /root/reference/sim/src/s3.rs:120-134).
  */
class ObjectDurabilitySpec extends AnyFunSuite with LocalSpark {

  test("e2e_a12_object_durability matches its oracle rows") {
    val df = graft.SparkEntry.queries("e2e_a12_object_durability")(spark, "unused")
    val got = df.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == Map(
      "backend" -> "object",
      "tail_from_second_instance" -> "3",
      "rows_from_second_instance" -> "3",
      "manifest_version_advances" -> "true",
      "stale_tag_commit_rejected" -> "true"), s"got $got")
  }
}
