package graft.plumba

/** Ordered fold/scan kernel family — the reference's novel operator surface
  * re-expressed as plain Scala.
  *
  * Reference semantics reproduced here (citations into /root/reference):
  *  - a kernel is a user function `f(acc, *extras, *cols) => acc` applied
  *    row-by-row in order (src/polars_numba/__init__.py:43–48 fold loop,
  *    :437–443 scan loop). On the JVM the C2 JIT plays Numba's role
  *    (SURVEY §2.1 #5–#8): kernels are ordinary compiled closures, no
  *    compile cache or captured-var guard is needed (Spark serializes
  *    closures by value per job).
  *  - `extras` are spliced between the accumulator and the column values on
  *    every call (src/polars_numba/__init__.py:47; examples_fold.py:58–66).
  *  - Null policy is applied by the *caller* per operator family:
  *    fold drops null rows over the selected columns only (:339, :391);
  *    scan emits null and leaves the accumulator untouched (:718–736).
  *
  * Deliberate deviations (documented per SURVEY §7.4):
  *  - No 9-column arity cap (the reference errors above 9,
  *    src/polars_numba/__init__.py:302–307) — varargs are free on the JVM.
  *    The 0-column error is kept.
  *  - A kernel may declare itself mergeable (`Merge`), which lawfully
  *    unlocks parallel partial folds across partitions — the reference is
  *    sequential by construction; we parallelize only when declared safe.
  */
object Kernel {

  /** Combine law for parallel partial folds.
    *
    * Required law: for any row split `xs ++ ys`,
    *   `fold(init, xs ++ ys) == merge(fold(init, xs), fold(neutral, ys))`
    * where `neutral` is the identity segment state. Partition 0 folds from
    * the real `init`; every later partition folds from `neutral`; partials
    * are merged left-to-right in partition order, so non-commutative (but
    * mergeable) kernels like run-length state remain correct.
    *
    * `commutative = true` additionally asserts `combine(a, b) ==
    * combine(b, a)`. Together with the split law this makes the whole
    * fold PERMUTATION-INVARIANT (every row's contribution is a singleton
    * partial, and an associative+commutative combine reorders freely), so
    * [[CollectOps.collectFold]] skips the global range sort and its
    * exchange entirely — the scan's natural partitioning feeds the
    * partial folds directly. Only declare it when it genuinely holds:
    * floating-point sums are NOT commutative-in-effect unless the values
    * make every partial exact (integral quantities, dyadic extras — see
    * `fold_sum_extra_args`) or an exact accumulator (BigDecimal/Long) is
    * used. Scans never use the flag (their output is ordered by
    * definition). */
  final case class Merge[A](neutral: A, combine: (A, A) => A, commutative: Boolean = false)
      extends Serializable

  /** What the row loops need of a fold or scan kernel: its initial
    * state, its step over `extras ++ values`, and its merge law. */
  sealed trait Steps[A] extends Serializable {
    def init: A
    def step: (A, IndexedSeq[Any]) => A
    def extras: IndexedSeq[Any]
    def merge: Option[Merge[A]]
    def withArgs(values: IndexedSeq[Any]): IndexedSeq[Any] =
      if (extras.isEmpty) values else extras ++ values
  }

  /** Fold kernel: threads accumulator A over rows in order → scalar.
    * `step(acc, args)` receives `args = extras ++ rowValues`. */
  final case class Fold[A](
      init: A,
      step: (A, IndexedSeq[Any]) => A,
      extras: IndexedSeq[Any] = Vector.empty,
      merge: Option[Merge[A]] = None)
      extends Steps[A]

  /** Scan kernel: threads accumulator A over rows in order, emitting the
    * accumulator (via `emit`, e.g. tuple → array) for every row.
    *
    * A declared `merge` law (same law as [[Fold]]'s) unlocks the two-pass
    * distributed prefix scan in [[CollectOps.collectScan]] — the default
    * global-scan path becomes parallel whenever it is lawful, and stays
    * sequential (reference parity) only when it must. */
  final case class Scan[A](
      init: A,
      step: (A, IndexedSeq[Any]) => A,
      extras: IndexedSeq[Any] = Vector.empty,
      emit: A => Any = (a: A) => a: Any,
      merge: Option[Merge[A]] = None)
      extends Steps[A]

  /** Typed-arity constructors (sugar over the generic untyped step; the
    * reference's nine arity-specialized kernels collapse to this —
    * SURVEY §2.1 #5/#6). Extras, if any, are closed over in Scala. */
  object Fold {
    def of1[A, C1](init: A, merge: Option[Merge[A]] = None)(f: (A, C1) => A): Fold[A] =
      Fold[A](init, (a, xs) => f(a, xs(0).asInstanceOf[C1]), Vector.empty, merge)
    def of2[A, C1, C2](init: A, merge: Option[Merge[A]] = None)(f: (A, C1, C2) => A): Fold[A] =
      Fold[A](init, (a, xs) => f(a, xs(0).asInstanceOf[C1], xs(1).asInstanceOf[C2]), Vector.empty, merge)
    def of3[A, C1, C2, C3](init: A, merge: Option[Merge[A]] = None)(f: (A, C1, C2, C3) => A): Fold[A] =
      Fold[A](
        init,
        (a, xs) => f(a, xs(0).asInstanceOf[C1], xs(1).asInstanceOf[C2], xs(2).asInstanceOf[C3]),
        Vector.empty,
        merge)
  }

  object Scan {
    def of1[A, C1](init: A, emit: A => Any = (a: A) => a: Any, merge: Option[Merge[A]] = None)(
        f: (A, C1) => A): Scan[A] =
      Scan[A](init, (a, xs) => f(a, xs(0).asInstanceOf[C1]), Vector.empty, emit, merge)
    def of2[A, C1, C2](init: A, emit: A => Any = (a: A) => a: Any, merge: Option[Merge[A]] = None)(
        f: (A, C1, C2) => A): Scan[A] =
      Scan[A](init, (a, xs) => f(a, xs(0).asInstanceOf[C1], xs(1).asInstanceOf[C2]), Vector.empty, emit, merge)
  }

  private[plumba] def anyNull(vs: IndexedSeq[Any]): Boolean = {
    var i = 0
    while (i < vs.length) { if (vs(i) == null) return true; i += 1 }
    false
  }

  /** Fold null policy: rows with a null in any *selected* column are
    * dropped (reference :339; tests/test_collect_fold.py:41–56). */
  def foldRows[A](k: Fold[A], rows: Iterator[IndexedSeq[Any]]): A =
    foldRowsFrom(k, k.init, rows)

  private[plumba] def foldRowsFrom[A](k: Fold[A], from: A, rows: Iterator[IndexedSeq[Any]]): A = {
    var acc = from
    while (rows.hasNext) {
      val vs = rows.next()
      if (!anyNull(vs)) acc = k.step(acc, k.withArgs(vs))
    }
    acc
  }

  /** Scan null policy: a null row emits None and does NOT advance the
    * accumulator (reference :441, :718–736; tests/test_collect_scan.py:53–72). */
  def scanRows[A](k: Scan[A], rows: Iterator[IndexedSeq[Any]]): Iterator[Option[Any]] = {
    var acc = k.init
    rows.map { vs =>
      if (anyNull(vs)) None
      else {
        acc = k.step(acc, k.withArgs(vs))
        Some(k.emit(acc))
      }
    }
  }
}
