"""Print one `query sha256` line per analyze-family query of
`rle_spark.queries` (`q_run_stats_returnflag` through
`q_codec_selection`) over the test tables in SF_DIR, and each rep's
wall on stderr. Diff the output of two checkouts to see every query
whose rows changed:

    python tests/analyze_queries.py /path/to/sf0.01 3 > rows.txt

One local[4] session runs REPS reps (default 1). Each rep starts from
an empty arrangement memo (`analyze.clear_run_cache()`), so rep 1 also
pays the JVM and python worker warm-up and later reps are warm walls.
The row hash is sha256 over the result's rows: `toPandas()`, columns
sorted by name, `astype(str)`, rows sorted. A rep whose hash differs
from rep 1's is reported and fails the run.
"""

import hashlib
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the python workers import rle_spark by name: point them at this tree
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
os.environ.setdefault("RLE_SPARK_DRIVER_MEM", "6g")

from rle_spark import analyze, queries  # noqa: E402
from rle_spark.engine import get_spark  # noqa: E402


def analyze_queries() -> list[str]:
    names = [n for n in vars(queries) if n.startswith("q_")]
    return names[names.index("q_run_stats_returnflag"):
                 names.index("q_codec_selection") + 1]


def row_hash(pdf) -> str:
    pdf = pdf[sorted(pdf.columns)].astype(str)
    rows = sorted(map(tuple, pdf.itertuples(index=False)))
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def main(sf_dir: str, reps: int) -> int:
    spark = get_spark("analyze-queries", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")
    names = analyze_queries()
    first: dict[str, str] = {}
    notes = []  # printed once the session stops: Spark's progress bar
    changed = 0  # shares stderr and would overwrite them
    for rep in range(reps):
        analyze.clear_run_cache()
        t0 = time.perf_counter()
        for name in names:
            h = row_hash(getattr(queries, name)(spark, sf_dir).toPandas())
            if rep == 0:
                first[name] = h
                print(name, h, flush=True)
            elif h != first[name]:
                changed += 1
                notes.append(f"rep {rep + 1}: {name} rows changed: {h}")
        notes.append(f"rep {rep + 1}: {len(names)} queries in "
                     f"{time.perf_counter() - t0:.2f} s")
    spark.stop()
    print("\n".join(notes), file=sys.stderr)
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 1))
