"""Per-query measurement harness beside ``bench.py``: times single suite
queries or dumps their plans, under ``bench.py``'s session config and query
list.

Modes:
  python bench_extra.py time [query ...]    noop-sink timing, N repeats each
  python bench_extra.py plan [query ...]    dump explain("formatted") to
                                            plans/r06/<query>_<tag>.txt
Env:
  SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS     same as bench.py
  STCS_PLAN_TAG                             suffix for plan files (before/after)
  STCS_REPEATS                              timing repeats (default 3)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import QUERY_NAMES, build_spark  # noqa: E402  (same session config + suite as the contract)


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    names = sys.argv[2:] or QUERY_NAMES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    os.environ.setdefault("STCS_BENCH_DOC_CAP", "1500")
    spark = build_spark(cpus)
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    if mode == "plan":
        tag = os.environ.get("STCS_PLAN_TAG", "before")
        out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            df = qs[name](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(out_dir, f"{name}_{tag}.txt")
            with open(path, "w") as fh:
                fh.write(txt)
            print(f"wrote {path} ({len(txt)} chars)")
    else:
        repeats = int(os.environ.get("STCS_REPEATS", "3"))
        out: dict[str, list[float]] = {}
        for name in names:
            runs = []
            for i in range(repeats):
                spark.sparkContext.setJobDescription(f"{name} rep{i}")
                t0 = time.time()
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(round(time.time() - t0, 2))
                spark.sparkContext.setJobDescription(None)
            out[name] = runs
            print(json.dumps({name: runs}), flush=True)
        med = {k: sorted(v)[len(v) // 2] for k, v in out.items()}
        print(json.dumps({"medians": med, "total_median": round(sum(med.values()), 2)}))
    spark.stop()


if __name__ == "__main__":
    main()
