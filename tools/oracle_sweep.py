"""Full oracle sweep at an arbitrary scale factor.

The driver's gate compares at sf0.01; rounding-boundary exposure grows
with group count, so this replays the IDENTICAL exact compare (row
count + sorted-column schema + full-precision value repr) for every
oracle-paired query at a bigger SF. Run:

    python tools/oracle_sweep.py [/root/testdata/sf0.1] [SWEEP_out.txt]

Per-query MATCH/MISMATCH/ERROR lines plus totals are written to the
output file (default ``SWEEP_LOCAL.txt``), so the sweep result is a
diffable artifact, not a docstring claim. Spark progress bars pollute
stdout, so stdout carries only coarse progress; the file is the record.
"""

import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

import duckdb

import __spark_entry__ as m
from pubsub_mapreduce_spark.session import get_spark
from tests.oracle_check import TABLES


def main(sf_dir: str, out_path: str) -> int:
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs, oq = m.queries(), m.oracle_sql()
    bad, done = [], 0
    with open(out_path, "w") as out:
        print(f"# oracle sweep @ {sf_dir}", file=out, flush=True)
        for name, fn in qs.items():
            if name not in oq:
                print(f"ROWS-ONLY {name}", file=out, flush=True)
                continue
            try:
                sdf = fn(spark, sf_dir).toPandas()
                odf = con.execute(oq[name]).fetchdf()
                cols = sorted(sdf.columns)

                def canon(d):
                    return sorted(
                        tuple(
                            repr(v + 0.0) if isinstance(v, float) else v
                            for v in r
                        )
                        for r in d[cols].itertuples(index=False)
                    )

                ok = (
                    len(sdf) == len(odf)
                    and cols == sorted(odf.columns)
                    and canon(sdf) == canon(odf)
                )
                if ok:
                    print(f"MATCH {name} rows={len(sdf)}", file=out, flush=True)
                else:
                    bad.append((name, "MISMATCH", f"{len(sdf)} vs {len(odf)}"))
                    print(
                        f"MISMATCH {name} {len(sdf)} vs {len(odf)}",
                        file=out,
                        flush=True,
                    )
            except Exception as ex:  # noqa: BLE001 - report, keep sweeping
                bad.append((name, "ERROR", str(ex)[:150]))
                print(f"ERROR {name} {str(ex)[:150]!r}", file=out, flush=True)
            done += 1
            if done % 20 == 0:
                print(f"progress {done}", flush=True)
        print(f"# checked={done} bad={len(bad)}", file=out, flush=True)
    print("checked:", done, "bad:", len(bad))
    for b in bad:
        print(b)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(
        main(
            sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1",
            sys.argv[2] if len(sys.argv) > 2 else "SWEEP_LOCAL.txt",
        )
    )
