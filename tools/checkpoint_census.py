"""Census of the ``localCheckpoint`` sites the ``queries()`` entries reach:
for each checkpoint a query creates, how many stages of the query's
later jobs read it, and how many jobs each query runs per call.

    python3 tools/checkpoint_census.py SF_DIR [query ...]

``SF_DIR`` holds the generated tables (the directory check_oracle.py
reads); with no query names every ``queries()`` entry runs. Each query
runs once under its own job group and is collected.
``DataFrame.localCheckpoint`` is wrapped to record the calling module,
function and line, whether the call was eager, and the id of the
checkpoint's RDD. After the query, the status
store is read stage by stage: a completed stage whose RDD ids contain
the checkpoint's RDD read it (a skipped stage reused earlier work).
Jobs that ran inside the ``localCheckpoint`` call itself (an eager
checkpoint's materializing job, or the shuffle stages a lazy one
plans) are not counted as readers.

Prints one line per query (``jobs``: jobs per call) and, at the end,
one line per call site (``readers``: the most stages that read one
checkpoint made there, over every call), all to stderr. A
stage counts once however many of its branches read the checkpoint, so
a site read by one stage may still feed two union branches or two
joins over one reused broadcast: read the code before deleting it.
"""

from __future__ import annotations

import collections
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pydi_spark import get_spark  # noqa: E402

PKG = os.path.join(ROOT, "pydi_spark") + os.sep


def _rdd_ids(stage) -> set[int]:
    text = stage.rddIds().mkString(",")
    return {int(x) for x in text.split(",") if x}


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir, only = sys.argv[1], sys.argv[2:]

    import __spark_entry__ as entry

    # keep every stage of a long query in the status store (the
    # default keeps the last 1000)
    retain = {"spark.ui.retainedStages": "100000", "spark.ui.retainedJobs": "100000"}
    spark = get_spark("checkpoint_census", extra_conf=retain)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    store = sc._jsc.sc().statusStore()
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()

    frame = type(spark.range(1))  # the session's DataFrame class
    made = []  # (site, eager, rdd id, job ids run inside the call)
    group = {"name": None}
    original = frame.localCheckpoint

    def recording(self, eager=True, *a, **kw):
        caller = sys._getframe(1)
        path = caller.f_code.co_filename
        before = set(tracker.getJobIdsForGroup(group["name"]))
        out = original(self, eager, *a, **kw)
        if path.startswith(PKG):
            site = (os.path.relpath(path, PKG), caller.f_code.co_name, caller.f_lineno)
            inside = set(tracker.getJobIdsForGroup(group["name"])) - before
            rid = out._jdf.queryExecution().analyzed().rdd().id()
            made.append((site, bool(eager), rid, inside))
        return out

    frame.localCheckpoint = recording
    readers = collections.defaultdict(list)  # site -> readers per call
    eager_of, queries_of = {}, collections.defaultdict(set)
    qs = entry.queries()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        made.clear()
        group["name"] = f"census:{name}"
        sc.setJobGroup(group["name"], group["name"])
        try:
            fn(spark, sf_dir).collect()
        except Exception as exc:  # noqa: BLE001 — report and go on
            print(f"query={name} error={type(exc).__name__}: {str(exc)[:300]}",
                  file=sys.stderr)
            continue
        finally:
            sc.setJobGroup(None, None)
        bus.waitUntilEmpty()
        jobs = sorted(tracker.getJobIdsForGroup(group["name"]))
        stages = []  # (job id, rdd ids of a completed stage)
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else []:
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "COMPLETE":
                    stages.append((j, _rdd_ids(st)))
        print(f"query={name} jobs={len(jobs)} checkpoints={len(made)}",
              file=sys.stderr, flush=True)
        for site, eager, rid, inside in made:
            n = sum(1 for j, ids in stages if j not in inside and rid in ids)
            readers[site].append(n)
            eager_of[site] = eager
            queries_of[site].add(name)
    for site in sorted(readers):
        mod, func, line = site
        print(
            f"site={mod}:{line} function={func} eager={eager_of[site]} "
            f"calls={len(readers[site])} readers={max(readers[site])} "
            f"queries={','.join(sorted(queries_of[site]))}",
            file=sys.stderr,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
