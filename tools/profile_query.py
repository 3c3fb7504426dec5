"""Per-stage profile of registry queries via the local Spark UI REST API.

The optimization guide (§1, §7.1) says to decide where time goes —
shuffle read, compute, scheduler delay — before touching code.  Local
mode has no history server, but the live UI's REST endpoint
(`/api/v1/applications/<id>/stages`) carries per-stage wall time, task
count, shuffle read/write bytes, and input bytes.  This tool runs each
named query on a noop sink and releases its caches afterwards, labels
it with setJobDescription, and prints the stage table for the jobs the
query ran, newest first, so a 10-second query decomposes into its
stages without needing the UI.

Run: PYTHONPATH=/root/repo python tools/profile_query.py <query>[,<query>...] [sf_dir]
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request

from realtimechurnpredictiondataengineering_spark.cache import release_caches
from realtimechurnpredictiondataengineering_spark.plans.inventory import REGISTRY
from realtimechurnpredictiondataengineering_spark.session import get_spark


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _api(spark, path: str):
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/{path}") as r:
        return json.load(r)


def _fmt_bytes(n: float) -> str:
    for unit in ("B", "KB", "MB", "GB"):
        if n < 1024:
            return f"{n:.0f}{unit}"
        n /= 1024
    return f"{n:.1f}TB"


def profile(spark, name: str, sf_dir: str) -> None:
    fn = REGISTRY[name][0]
    # warm run: JIT/codegen/footers out of the numbers (bench protocol)
    _force(fn(spark, sf_dir))
    release_caches()
    before_jobs = {j["jobId"] for j in _api(spark, "jobs")}
    spark.sparkContext.setJobDescription(f"profile:{name}")
    t0 = time.perf_counter()
    _force(fn(spark, sf_dir))
    wall = time.perf_counter() - t0
    spark.sparkContext.setJobDescription(None)
    release_caches()

    jobs = [j for j in _api(spark, "jobs") if j["jobId"] not in before_jobs]
    stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
    stages = {s["stageId"]: s for s in _api(spark, "stages?status=complete")}
    print(f"\n=== {name}: {wall:.3f}s wall, {len(jobs)} jobs, {len(stage_ids)} stages ===")
    rows = []
    for sid in stage_ids:
        st = stages.get(sid)
        if not st:
            continue
        dur = 0.0
        if st.get("firstTaskLaunchedTime") and st.get("completionTime"):
            from datetime import datetime

            # REST timestamps are '...%H:%M:%S.SSSGMT'; parse both sides
            # with strptime and subtract datetimes — same zone cancels,
            # no mktime local-time assumption, no manual ms slicing
            fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
            t_a = datetime.strptime(st["firstTaskLaunchedTime"], fmt)
            t_b = datetime.strptime(st["completionTime"], fmt)
            dur = (t_b - t_a).total_seconds()
        rows.append(
            (
                dur,
                sid,
                st["numCompleteTasks"],
                st.get("executorRunTime", 0),
                st.get("inputBytes", 0),
                st.get("shuffleReadBytes", 0),
                st.get("shuffleWriteBytes", 0),
                (st.get("name") or "")[:60],
            )
        )
    rows.sort(reverse=True)
    print(
        f"{'wall_s':>7} {'stage':>5} {'tasks':>5} {'exec_ms':>8} "
        f"{'input':>8} {'sh_read':>8} {'sh_write':>8}  name"
    )
    for dur, sid, ntask, execms, inb, srb, swb, sname in rows[:25]:
        print(
            f"{dur:7.2f} {sid:5d} {ntask:5d} {execms:8d} "
            f"{_fmt_bytes(inb):>8} {_fmt_bytes(srb):>8} {_fmt_bytes(swb):>8}  {sname}"
        )
    tail = len(rows) - 25
    if tail > 0:
        rest = sum(r[0] for r in rows[25:])
        print(f"  ... {tail} more stages, {rest:.2f}s combined")


def main() -> int:
    names = sys.argv[1].split(",")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="profile-query")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        profile(spark, name, sf_dir)
    return 0


if __name__ == "__main__":
    sys.exit(main())
