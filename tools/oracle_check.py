"""Local replica of the driver's correctness gate: run every
queries()[name] on Spark and its oracle_sql()[name] on DuckDB over the
same parquet fixtures, compare row count, column names, and an
order-insensitive value multiset.

Above ROW_CAP rows per side the comparison switches to a streaming
commutative digest (VERDICT r8 #3): each canonical column-sorted row
hashes to a 128-bit md5, and the multiset is summarized by
(count, sum mod 2^160, xor) of those row hashes -- order-insensitive,
multiset-exact up to md5 collision, O(1) memory. This retired the
`unpivot_metrics` soak exemption (1.8M input rows x metrics tripped
the old hard 5M cap on derived fixtures); small-SF runs keep the
exact Counter compare with its spark-only/duck-only diff samples.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_building_inspector_spark.plans.contract import (  # noqa: E402
    canon,
    oracle_connection,
)

# above this many rows per side, switch from exact Counter compare to
# the streaming digest (memory stays bounded; diff samples are lost)
ROW_CAP = 5_000_000
_FETCH = 100_000


class RowDigest:
    """Commutative multiset summary of canonical row tuples."""

    __slots__ = ("n", "acc_sum", "acc_xor")
    _MOD = 1 << 160

    def __init__(self):
        self.n = 0
        self.acc_sum = 0
        self.acc_xor = 0

    def update(self, row: tuple):
        h = int.from_bytes(
            hashlib.md5(repr(row).encode()).digest(), "big"
        )
        self.n += 1
        self.acc_sum = (self.acc_sum + h) % self._MOD
        self.acc_xor ^= h

    def __eq__(self, other):
        return (
            self.n == other.n
            and self.acc_sum == other.acc_sum
            and self.acc_xor == other.acc_xor
        )


def compare(name: str, spark_rows, duck_rows) -> list[str]:
    problems = []
    if len(spark_rows) != len(duck_rows):
        problems.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
    from collections import Counter

    cs = Counter(tuple(canon(v) for v in r) for r in spark_rows)
    cd = Counter(tuple(canon(v) for v in r) for r in duck_rows)
    if cs != cd:
        only_s = list((cs - cd).items())[:3]
        only_d = list((cd - cs).items())[:3]
        problems.append(f"values differ; spark-only={only_s} duck-only={only_d}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod
    from etl_building_inspector_spark.plans.contract import (
        assert_scalar_output_schema,
    )
    from etl_building_inspector_spark.session import get_spark

    spark = get_spark("oracle-check")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(sys.argv[2:]) or set(queries)
    # an unknown requested name must fail loudly, not silently shrink
    # the run (the r10 soak slate carried a misnamed ER query and the
    # bare only-filter turned it into a no-line ghost)
    unknown = only - set(queries)
    for name in sorted(unknown):
        print(f"FAIL {name}: not a registered query")

    con = oracle_connection(sf_dir)
    # soak hygiene: DuckDB's default memory_limit (80% of RAM) lets a
    # big shingle-join oracle bad-alloc instead of spilling; cap it
    # and point the spill at a roomy temp dir for derived-scale runs
    mem = os.environ.get("ORACLE_CHECK_DUCK_MEM", "")
    if mem:
        con.execute(f"SET memory_limit='{mem}'")
    tmp = os.environ.get("ORACLE_CHECK_DUCK_TMP", "")
    if tmp:
        con.execute(f"SET temp_directory='{tmp}'")

    n_fail = len(unknown)
    for name, fn in sorted(queries.items()):
        if name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            # driver-shape guard BEFORE any rows move: nested output
            # types crash the driver's canonicalizer even when every
            # value is right (plans/contract.py)
            assert_scalar_output_schema(sdf.schema, name)
            spark_cols = sdf.columns
            s_idx = [spark_cols.index(c) for c in sorted(spark_cols)]
            # stream rows (driver sorts columns by name before hashing,
            # so store column-sorted canonical tuples). Past ROW_CAP,
            # fold everything into the commutative digest and drop the
            # buffered rows -- memory stays bounded on soak fixtures.
            #
            # Materialization: toLocalIterator() alone executes ONE
            # partition per job, SEQUENTIALLY -- it serialized every
            # engine leg onto one core regardless of the plan's
            # parallelism (caught by the r10 x10 soak: a 400M-pair
            # BNLJ ground for ~2h on one task under the checker while
            # count()/collect() ran it 32-wide). Persist + count first
            # (parallel compute into cache, spilling to disk), then
            # iterate the CACHED partitions -- driver memory stays
            # bounded, executors stay busy.
            from pyspark import StorageLevel

            sdf = sdf.persist(StorageLevel.MEMORY_AND_DISK)
            spark_rows: list[tuple] = []
            s_digest = None
            try:
                sdf.count()
                for r in sdf.toLocalIterator():
                    t = tuple(canon(v) for v in r)
                    t = tuple(t[i] for i in s_idx)
                    if s_digest is None:
                        spark_rows.append(t)
                        if len(spark_rows) > ROW_CAP:
                            s_digest = RowDigest()
                            for old in spark_rows:
                                s_digest.update(old)
                            spark_rows = []
                    else:
                        s_digest.update(t)
            finally:
                sdf.unpersist()
            spark_n = s_digest.n if s_digest is not None else len(spark_rows)
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS {name}: rows={spark_n} (no oracle) "
                  f"[{time.time() - t0:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        if sorted(spark_cols) != sorted(duck_cols):
            print(f"FAIL {name}: columns spark={spark_cols} duck={duck_cols}")
            n_fail += 1
            continue
        d_idx = [duck_cols.index(c) for c in sorted(duck_cols)]
        try:
            # duck side streams via fetchmany UNCONDITIONALLY (ADVICE
            # r9: the old fetchall path buffered the entire oracle
            # result even when the SPARK side stayed small -- exactly
            # the rowcount-bug scenario where the oracle explodes).
            # Buffer rows up to ROW_CAP; past it, fold into the
            # commutative digest and drop the buffer.
            duck_sorted: list[tuple] = []
            d_digest = RowDigest() if s_digest is not None else None
            while True:
                chunk = res.fetchmany(_FETCH)
                if not chunk:
                    break
                for r in chunk:
                    t = tuple(canon(r[i]) for i in d_idx)
                    if d_digest is None:
                        duck_sorted.append(t)
                        if len(duck_sorted) > ROW_CAP:
                            d_digest = RowDigest()
                            for old in duck_sorted:
                                d_digest.update(old)
                            duck_sorted = []
                    else:
                        d_digest.update(t)
            if s_digest is None and d_digest is None:
                problems = compare(name, spark_rows, duck_sorted)
            else:
                # digest mode on at least one side: fold the small
                # side (if any) so both compare as digests
                if s_digest is None:
                    s_digest = RowDigest()
                    for t in spark_rows:
                        s_digest.update(t)
                    spark_rows = []
                if d_digest is None:
                    d_digest = RowDigest()
                    for t in duck_sorted:
                        d_digest.update(t)
                    duck_sorted = []
                problems = []
                if s_digest.n != d_digest.n:
                    problems.append(
                        f"rowcount spark={s_digest.n} duck={d_digest.n}"
                    )
                if s_digest != d_digest:
                    problems.append(
                        "digest mismatch (chunked mode: no diff samples)"
                    )
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            mode = " (chunked-digest)" if s_digest is not None else ""
            print(f"PASS {name}: rows={spark_n}{mode} [{time.time() - t0:.1f}s]")
    print(f"\n{'ALL PASS' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
