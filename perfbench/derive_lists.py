#!/usr/bin/env python3
"""Re-derives the workloads' row lists from a traced run over every row.

    python3 perfbench/run.py --workload census --seed 1 --seconds 1 --trace 1 \\
        --timeout 3600 --artifact census-art.json
    python3 perfbench/derive_lists.py census-art.json

The census workload runs every row of `SparkEntry.queries`; its artifact
holds, per row, the median warm wall, construct and exec time and, from
the traced pass, the jobs, committed writes and streaming queries each
sample ran. The rules:

  - verbs: the `q*` rows (the verb surface, `Queries.all`) plus
    x84_temporal_join_fuzz_battery;
  - streaming: rows that start a streaming query;
  - lifecycle: other rows whose timed call reads or stamps index table
    properties, or renames a table (the persistent-index rows: only the
    engine's index layer issues those commands); `write_rows` are the
    lifecycle rows that commit at least one table per sample;
  - curation: the remaining rows whose construct share of wall is at
    most MAX_CONSTRUCT and whose wall is at least MIN_WALL_S seconds
    (the per-document operators, where the work is in execution).

It prints the lists as JSON, ready to replace the `lists` of
perfbench/workloads.json; `write_rows` and `probe_rows` are the lifecycle
rows that do and do not commit a table in their timed call.
"""
import json
import sys

MAX_CONSTRUCT = 0.20
MIN_WALL_S = 0.8


def derive(rows):
    verbs = sorted(r for r in rows if r.startswith("q")) + ["x84_temporal_join_fuzz_battery"]
    rest = [r for r in sorted(rows, key=row_key) if r not in verbs]
    streaming = [r for r in rest if rows[r]["stream_queries"] > 0]
    lifecycle = [r for r in rest if r not in streaming
                 and (rows[r]["index_meta"] > 0 or rows[r]["renames"] > 0)]
    curation = [r for r in rest if r not in streaming and r not in lifecycle
                and rows[r]["wall_s"] >= MIN_WALL_S
                and rows[r]["construct_s"] <= MAX_CONSTRUCT * rows[r]["wall_s"]]
    return {
        "verbs": {"rows": verbs},
        "curation": {"rows": curation},
        "lifecycle": {"rows": lifecycle,
                      "write_rows": [r for r in lifecycle if rows[r]["write_cmds"] >= 1],
                      "probe_rows": [r for r in lifecycle if rows[r]["write_cmds"] < 1]},
        "streaming": {"rows": streaming},
    }


def row_key(name):
    """x2 before x10: numeric order of the row id."""
    head = name.split("_")[0]
    return (head[0], int("".join(c for c in head if c.isdigit()) or 0), name)


def main():
    if len(sys.argv) != 2:
        sys.exit("usage: derive_lists.py CENSUS_ARTIFACT")
    rows = json.load(open(sys.argv[1]))["rows"]
    lists = derive(rows)
    print(json.dumps(lists, indent=1))
    for name, wl in lists.items():
        share = sum(rows[r]["construct_s"] for r in wl["rows"] if r in rows) / max(
            1e-9, sum(rows[r]["wall_s"] for r in wl["rows"] if r in rows))
        print(f"{name}: {len(wl['rows'])} rows, construct share {share:.2f}", file=sys.stderr)


if __name__ == "__main__":
    main()
