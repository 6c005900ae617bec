#!/usr/bin/env python3
"""Measures the traffic shape of a harness `events` table, the source of the
constants that graftbench.Render draws its input from (see TRAFFIC in
perfbench/run.py).

    python3 perfbench/measure_events.py PATH/TO/events.parquet

Prints the row count, the event_type shares, the user_id cardinality and
spread, the gap between consecutive events in event_id order (mean, median,
quartiles; an exponential gap has median = ln 2 x mean) and the disorder:
how many events are older than an earlier event_id, and how many by more
than the daemon's 1-hour dedup watermark. Needs the duckdb Python module.
"""
import sys

import duckdb


def main():
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    c = duckdb.connect()
    c.read_parquet(sys.argv[1]).create_view("e")

    def one(sql):
        return c.execute(sql).fetchone()

    n, users, span_d = one("select count(*), count(distinct user_id), "
                           "(epoch_ms(max(ts)) - epoch_ms(min(ts))) / 86400000.0 from e")
    print("rows %d, event time span %.2f days" % (n, span_d))
    for t, share in c.execute("select event_type, count(*) / sum(count(*)) over () "
                              "from e group by 1 order by 1").fetchall():
        print("event_type %-10s share %.4f" % (t, share))
    lo, hi, pmin, pmax, psd = one(
        "select min(user_id), max(user_id), min(c), max(c), stddev(c) from "
        "(select user_id, count(*) c from e group by 1)")
    print("user_id: %d distinct in [%d, %d]; events per user %d-%d, sd %.2f "
          "(uniform draws give sd %.2f)" % (users, lo, hi, pmin, pmax, psd, (n / users) ** 0.5))
    mean, q = one("select avg(d), quantile_cont(d, [0.25, 0.5, 0.75]) from (select "
                  "(epoch_ms(ts) - lag(epoch_ms(ts)) over (order by event_id)) / 1000.0 d from e)")
    print("gap in event_id order: mean %.3f s, quartiles %.3f / %.3f / %.3f s "
          "(ln 2 x mean = %.3f s)" % (mean, q[0], q[1], q[2], 0.6931471805599453 * mean))
    older, late = one(
        "select count(*) filter (where ms < pm), count(*) filter (where ms < pm - 3600000) "
        "from (select epoch_ms(ts) ms, max(epoch_ms(ts)) over (order by event_id rows "
        "between unbounded preceding and 1 preceding) pm from e)")
    print("disorder: %d events older than an earlier event_id, %d by more than 1 h"
          % (older, late))


if __name__ == "__main__":
    main()
