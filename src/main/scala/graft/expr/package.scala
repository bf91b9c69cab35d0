package graft

/** Native Catalyst kernels and the table-lineage expressions.
  *
  * Every native kernel is one [[expr.KernelDecl]] evaluated by the one
  * [[expr.Kernel]] expression; [[expr.DvKeep]] is the only other
  * expression here, because it keeps a per-task probe in mutable state.
  *
  * To add a kernel, write no expression class:
  *  1. write one public static method — a method of a top-level object,
  *     which Scala also emits as a static forwarder — taking the inputs'
  *     internal values (`UTF8String`, `Array[Byte]`, `ArrayData`,
  *     `InternalRow`, primitives) and then the constants, and returning
  *     the result's internal value (boxed, e.g. `java.lang.Double`, when
  *     it may return null for a primitive type). Interpreted eval and
  *     generated code both call it, so it holds the only copy of the loop;
  *  2. declare it beside its Column constructor:
  *     {{{
  *     private[graft] val Shout = new KernelDecl("graft_shout", Seq(Kernel.StringIn),
  *       StringType, this, "shout", Seq(KernelConst("times", IntegerType, min = 1)))
  *     def shout(c: Column, times: Int): Column = Shout.of(Seq(c), times)
  *     }}}
  *     giving the name plans show, the declared input types, the result
  *     type, the method, its constants, and the null policy (`whenNull`,
  *     `nullableResult`). Constants that are not Int, Long or Boolean reach
  *     generated code through `addReferenceObj`; `args` turns constants
  *     (and the resolved input types) into what the method takes;
  *  3. add a row to `KernelSpec`, and list the declaration in
  *     `GraftFunctions` if SQL should see it.
  */
package object expr
