"""Seeded TabJolt log generator with planted truth, for `daily_report`.

Writes the four sources the daily pipeline loads (summary_line.csv,
wincounter.tsv, performance_samples.csv, thread_details.tsv) and a
truth.json holding, for each run date, what the report must show:
the five scalar metrics, the number of red (> +20%) regression rows,
regression rows, improvement (< -40%) rows and today's sample rows, plus
the number of malformed rows the loader must reject.

The truth is computed here with the report queries' own arithmetic
(per-view average in double, pct = (current - avg) / avg * 100), and the
planted views sit far from every threshold, so the expected counts do
not hinge on rounding.
"""
import datetime as dt
import json
import os
import random
from decimal import Decimal, ROUND_HALF_UP

DAYS = 60
VIEWS = 400
SAMPLES_PER_VIEW_DAY = 1
RUN_DATES = 1         # run dates per pass: the last RUN_DATES days
IMPROVEMENT_DAYS = 3  # Q8b compares against the samples since runDate - 3 days
HOT_VIEWS = 12        # +60% over the window: red regressions
COLD_VIEWS = 10       # -60% over the improvement window
FIRST_DAY = dt.date(2024, 1, 1)
JTL_HEADER = "t,lt,ts,s,lb,rc,rm,tn,dt,by,ng,na,"


def _epoch_ms(day, seconds):
    t = dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc)
    return int(t.timestamp() * 1000) + seconds * 1000


def _csv_field(s):
    if any(c in s for c in ',"\n'):
        return '"' + s.replace('"', '""') + '"'
    return s


def generate(out_dir, seed):
    rnd = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    days = [FIRST_DAY + dt.timedelta(days=i) for i in range(DAYS)]
    run_dates = days[-RUN_DATES:]
    rejected = 0

    # ---- views: site views (some with an embedded newline), plus rows
    # the site filter must drop
    views = []
    for v in range(VIEWS):
        rm = f"Site: site{v % 7}; Workbook: wb{v % 31}; View: view{v};"
        if v % 23 == 0:
            rm = rm[:-1] + "\nfilter: region=EMEA;"
        views.append((rm, rnd.randint(500, 20000)))
    order = list(range(VIEWS))
    rnd.shuffle(order)
    hot = set(order[:HOT_VIEWS])
    cold = set(order[HOT_VIEWS:HOT_VIEWS + COLD_VIEWS])
    dropped = ["Login page; View: login;", "Site: null; Workbook: wb0; View: viewX;"]

    # ---- performance_samples (JTL): rows of (elapsed or None if
    # non-numeric, epoch ms, view index or -1 for a dropped view)
    samples = []
    lines = [JTL_HEADER]
    improvement_from = run_dates[0] - dt.timedelta(days=IMPROVEMENT_DAYS)
    for day in days:
        for v, (rm, base) in enumerate(views):
            for _ in range(SAMPLES_PER_VIEW_DAY):
                factor = 1 + rnd.uniform(-0.05, 0.05)
                if v in hot and day >= run_dates[0]:
                    factor = 1.6
                elif v in cold and day >= improvement_from:
                    factor = 0.4
                ms = _epoch_ms(day, rnd.randint(3600, 82800))
                elapsed = int(base * factor)
                samples.append((elapsed, ms, v))
                lines.append(",".join([
                    str(elapsed), str(rnd.randint(0, 50)), str(ms), "true",
                    "Interact Viz Test", "200", _csv_field(rm),
                    f"T 1-{rnd.randint(1, 5)}", "", str(rnd.randint(1000, 2000000)),
                    "1", "5", f"id{v}"]))
        for rm in dropped:
            ms = _epoch_ms(day, rnd.randint(3600, 82800))
            lines.append(f"{rnd.randint(100, 900)},0,{ms},true,Bootstrap request,200,"
                         f"{_csv_field(rm)},T 1-1,,2048,1,5,x")
        # a non-numeric elapsed time: dropped by the per-view average and
        # the join, but listed (first, as NULL) among today's samples
        ms = _epoch_ms(day, rnd.randint(3600, 82800))
        v = rnd.randrange(VIEWS)
        samples.append((None, ms, v))
        lines.append(f"-,0,{ms},false,Interact Viz Test,500,{_csv_field(views[v][0])},"
                     "T 1-1,,0,1,5,x")
    for _ in range(3):  # too many fields: rejected at load
        lines.append("1,2,3,true,bad,200,Site: site0; View: bad;,T,,1,1,5,x,extra,fields")
        rejected += 1
    rnd.shuffle(lines)  # header, malformed and good rows interleaved
    with open(os.path.join(out_dir, "performance_samples.csv"), "w") as f:
        f.write("\n".join(lines) + "\n")

    # ---- summary_line: Avg/Max/Min/Err per day
    avgs = {}
    lines = []
    for day in days:
        a = rnd.randint(8000, 16000)
        avgs[day] = a
        lines += [f"Avg,{a},{day}", f"Max,{a + rnd.randint(1000, 9000)},{day}",
                  f"Min,{a - rnd.randint(1000, 7000)},{day}", f"Err,0 0.00%,{day}"]
    # keep the historic mean away from .5 so half-up rounding is unambiguous
    while True:
        mean = sum(avgs.values()) / len(avgs)
        if abs(mean - int(mean) - 0.5) > 0.05:
            break
        avgs[days[0]] += 1
        lines[0] = f"Avg,{avgs[days[0]]},{days[0]}"
    summary = {(m, d): v for m, v, d in (l.split(",") for l in lines)}
    for _ in range(2):
        lines.insert(rnd.randrange(len(lines)), f"Avg,1,{days[0]},this,row,is,malformed")
        rejected += 1
    with open(os.path.join(out_dir, "summary_line.csv"), "w") as f:
        f.write("\n".join(lines) + "\n")

    # ---- wincounter: 96 perfmon samples per day
    lines = []
    latest = None
    for day in days:
        for q in range(96):
            t = dt.datetime(day.year, day.month, day.day) + dt.timedelta(minutes=15 * q)
            ts = t.strftime("%Y-%m-%d %H:%M:%S")
            latest = ts
            lines.append("\t".join([str(_epoch_ms(day, 900 * q)), "LOCALHOST", "Memory",
                                    "% Committed Bytes In Use", "",
                                    f"{rnd.uniform(40, 90):.2f}", ts]))
    lines.insert(rnd.randrange(len(lines)), "\t".join(["x"] * 9))
    rejected += 1
    with open(os.path.join(out_dir, "wincounter.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")

    # ---- thread_details: loaded, never queried
    lines = []
    for day in days:
        for k in range(20):
            lines.append("\t".join([f"#{k}", "Threads: 5/5", f"Samples: {rnd.randint(1, 99)}",
                                    f"Latency: {rnd.randint(1, 99)}",
                                    f"Resp.Time: {rnd.randint(100, 9999)}", "Errors: 0"]))
    lines.insert(rnd.randrange(len(lines)), "\t".join(["#bad"] * 8))
    rejected += 1
    with open(os.path.join(out_dir, "thread_details.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")

    # ---- the truth, with the queries' arithmetic
    sums, counts = [0] * VIEWS, [0] * VIEWS
    for e, _, v in samples:
        if e is not None:
            sums[v] += e
            counts[v] += 1
    avg = [float(sums[v]) / counts[v] for v in range(VIEWS)]

    def current(day):
        lo = _epoch_ms(day, 0)
        return [(e, v) for e, ms, v in samples if e is not None and ms >= lo]

    def pct(e, v):
        return (e - avg[v]) / avg[v] * 100.0

    hist = Decimal(sum(avgs.values()) / len(avgs)).quantize(Decimal(1), ROUND_HALF_UP)
    latest_ts = latest + ".0"
    dates = {}
    for d in run_dates:
        cur = current(d)
        regs = [(e, v) for e, v in cur if avg[v] < e]
        imps = [(e, v) for e, v in current(d - dt.timedelta(days=IMPROVEMENT_DAYS))
                if avg[v] > e and pct(e, v) < -40.0]
        lo = _epoch_ms(d, 0)
        dates[str(d)] = {
            "metrics": [summary[("Avg", str(d))], summary[("Max", str(d))],
                        summary[("Min", str(d))], latest_ts, str(hist)],
            "red_rows": min(10000, sum(1 for e, v in regs if pct(e, v) > 20.0)),
            "regression_rows": min(10000, len(regs)),
            "improvement_rows": min(10000, len(imps)),
            "today_rows": min(10000, sum(1 for _, ms, _ in samples if ms >= lo)),
        }
    truth = {"seed": seed, "run_dates": [str(d) for d in run_dates],
             "rejected_rows": rejected, "dates": dates,
             "planted": {"hot_views": sorted(hot), "cold_views": sorted(cold)}}
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1)
    return truth
