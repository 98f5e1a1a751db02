"""Capture .explain('formatted') output for named queries, or compare
two captures.

Usage:
    python scripts/capture_plans.py <out_dir> <suffix> [query ...]
    python scripts/capture_plans.py --compare DIR_A DIR_B

Capture writes <out_dir>/<query>_<suffix>.txt for each query (default:
every ``bench.HEADLINE`` query) from the checkout the script sits in.  Queries whose construction runs driver-side actions (CC loops,
fixed-codebook collects) execute those actions during capture — that
is inherent to their build, not a bug.

Compare pairs the files of the two directories by name, normalizes
what differs between two builds of one plan (expression ids ``#123``,
``plan_id=``, codegen and query-stage ids) and prints a unified diff
per drifted plan.  Exit status: 0 when every plan matches, 1 when
any plan drifted or exists on one side only.
"""

from __future__ import annotations

import difflib
import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: build-local identifiers: same plan, different numbers on every build
#: (adaptive execution also numbers codegen stages and query stages in
#: the order they happened to run)
_VOLATILE = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    (re.compile(r"(QueryStage\nOutput \[\d+\]: [^\n]*\nArguments: )\d+"),
     r"\1N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
]


def normalize(text: str) -> str:
    for pat, rep in _VOLATILE:
        text = pat.sub(rep, text)
    return text


def compare(dir_a: str, dir_b: str) -> int:
    a_names = {f for f in os.listdir(dir_a) if f.endswith(".txt")}
    b_names = {f for f in os.listdir(dir_b) if f.endswith(".txt")}
    drift = 0
    for name in sorted(a_names ^ b_names):
        side = dir_a if name in a_names else dir_b
        print(f"ONLY {name} (in {side})")
        drift += 1
    for name in sorted(a_names & b_names):
        with open(os.path.join(dir_a, name)) as f:
            a = normalize(f.read()).splitlines()
        with open(os.path.join(dir_b, name)) as f:
            b = normalize(f.read()).splitlines()
        if a == b:
            print(f"SAME {name}")
            continue
        drift += 1
        print(f"DRIFT {name}")
        sys.stdout.writelines(
            line + "\n" for line in difflib.unified_diff(
                a, b, os.path.join(dir_a, name), os.path.join(dir_b, name),
                lineterm="", n=2))
    print(f"{drift} drifted of {len(a_names | b_names)}")
    return 1 if drift else 0


def capture(out_dir: str, suffix: str, names: list[str]) -> None:
    os.makedirs(out_dir, exist_ok=True)

    from apache_beam_spark.engine import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    queries = entrymod.queries()

    from apache_beam_spark.plans.caching import scoped_caches

    with scoped_caches():
        for name in names:
            df = queries[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            txt = buf.getvalue()
            print(f"{name}: {txt.count('Exchange')} Exchange-mentions, "
                  f"{txt.count('BatchEvalPython')} BatchEvalPython, "
                  f"{txt.count('ArrowEvalPython')} ArrowEvalPython, "
                  f"{txt.count('MapInPandas')} MapInPandas -> {path}")
    spark.stop()


def main() -> None:
    args = sys.argv[1:]
    if args[:1] == ["--compare"]:
        if len(args) != 3:
            raise SystemExit(__doc__)
        raise SystemExit(compare(args[1], args[2]))
    out_dir = args[0] if args else "plans/r13"
    suffix = args[1] if len(args) > 1 else "before"
    names = args[2:]
    if not names:
        import bench

        names = bench.HEADLINE
    capture(out_dir, suffix, names)


if __name__ == "__main__":
    main()
