"""Dump registry queries' .explain('formatted') to plans/<round>/.

Usage: python tools/dump_query_plan.py <round> <before|after> <query> [query...]

Writes plans/<round>/<query>_<tag>.txt (e.g. ``r11``) under a header
naming the round and side, at SPARK_GRAFT_SF_DIR (default sf0.01 —
plan shape, not timing), with that directory shown as ``<sf_dir>``.
Run the "before" side from a checkout of the parent commit so both
sides come from the same tool.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from music_streaming_data_pipeline_v2_spark.session import get_spark
from music_streaming_data_pipeline_v2_spark.plans.driver_queries import REGISTRY


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    rnd, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    if not re.fullmatch(r"r\d+", rnd) or tag not in ("before", "after"):
        sys.exit(__doc__)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("dump_query_plan")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(
                f"# {name} — explain('formatted') {tag.upper()} the {rnd} "
                f"change ({os.path.basename(sf_dir)})\n"
            )
            # data paths as <sf_dir>, so dumps from two hosts or
            # checkouts diff only where the plans differ
            f.write(buf.getvalue().replace(sf_dir.rstrip("/"), "<sf_dir>"))
        print(path)


if __name__ == "__main__":
    main()
