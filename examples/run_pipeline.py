"""Run the full reference pipeline end-to-end on a synthetic CDC workload:

    python examples/run_pipeline.py [workdir]

Mirrors the reference's deploy ordering (deploy:296-311): replication jobs
for movies + tickets, then the revenue-analytics materialized view; prints
the served `movie_revenue_realtime` table.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from flink_cdc_fluss_quickstart_spark.session import get_spark  # noqa: E402
from flink_cdc_fluss_quickstart_spark.sources import osb  # noqa: E402
from flink_cdc_fluss_quickstart_spark.sql_frontend import Engine  # noqa: E402

# the reference's SQL scripts, adapted to the engine's SQL front-end
SCRIPTS = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "tests", "fixtures"
)


def main() -> None:
    work = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="osb_")
    spark = get_spark("reference-pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    dirs = osb.generate_workload(os.path.join(work, "wal"), epochs=8, seed=42)
    eng = Engine(spark, warehouse=os.path.join(work, "warehouse"))
    eng.bind_source("pg_osb_tickets", dirs["tickets"], osb.TICKETS_SCHEMA)
    eng.bind_source("pg_osb_movies", dirs["movies"], osb.MOVIES_SCHEMA)

    for script in ("movies-cdc.sql", "tickets-cdc.sql"):
        with open(os.path.join(SCRIPTS, script)) as f:
            eng.execute(f.read())
    eng.await_all()
    with open(os.path.join(SCRIPTS, "revenue-analytics.sql")) as f:
        eng.execute(f.read())
    eng.await_all()

    served = eng.snapshot("movie_revenue_realtime")
    print(f"\nmovie_revenue_realtime ({served.count()} movies):")
    served.orderBy("movie_id").show(50, truncate=False)


if __name__ == "__main__":
    main()
