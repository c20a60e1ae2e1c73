"""Arithmetic behind the benchmark's metrics and output checks.

Pure functions over plain lists, so tests/test_stats.py can pin them
without a JVM. Intervals are (start, end) pairs in milliseconds.
"""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_ok(n, p):
    """A p-th percentile is reported only with at least ten samples beyond it."""
    return n * (100 - p) / 100 >= 10


def percentile(xs, p):
    """Nearest-rank p-th percentile, or None when fewer than ten samples
    lie beyond it (see tail_ok)."""
    if not xs or not tail_ok(len(xs), p):
        return None
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def merge(intervals):
    """Sorted, non-overlapping union of intervals."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def union_length(intervals):
    return sum(b - a for a, b in merge(intervals))


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    lo, hi = span
    return (hi - lo) - union_length(clip(children, lo, hi))


LISTENER_SPANS = ("exec.job", "catalyst.", "stream.trigger")


def link_spans(spans):
    """Gives each listener span (job, Catalyst phase, trigger) a parent:
    the shortest benchmark span that contains its start. Concurrent
    pipeline batches overlap, so there the link is by time only.
    Returns new span dicts."""
    out = [dict(s) for s in spans]
    scopes = sorted((s for s in out if not s["name"].startswith(LISTENER_SPANS)),
                    key=lambda s: s["end"] - s["start"])
    for s in out:
        if s["name"].startswith(LISTENER_SPANS):
            s["parent"] = next((p["id"] for p in scopes
                                if p["start"] <= s["start"] < p["end"]), 0)
    return out


def self_times(spans):
    """Total self time per span name, in ms."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        t = self_time((s["start"], s["end"]), kids.get(s["id"], []))
        out[s["name"]] = out.get(s["name"], 0.0) + t
    return out


def split_window(window, build, jobs, phases):
    """Splits one query's wall-clock window into disjoint layer times.

    Jobs take precedence, then Catalyst phases (per phase name), then
    plan construction (`build`, an interval); what is left is driver
    time outside all three. Returns a dict of milliseconds.
    """
    lo, hi = window
    jobs = clip(jobs, lo, hi)
    out = {"job_union": union_length(jobs)}
    covered = list(jobs)
    for name in sorted(phases):
        ph = clip(phases[name], lo, hi)
        out["catalyst." + name] = union_length(covered + ph) - union_length(covered)
    covered += [iv for ph in phases.values() for iv in clip(ph, lo, hi)]
    b = clip([build], lo, hi)
    out["build_self"] = union_length(covered + b) - union_length(covered)
    out["driver_gap"] = (hi - lo) - union_length(covered + b)
    return out


def check_pipeline(events, batches, nation_of):
    """Checks every `pipeline.Pipeline` outcome against the generator's truth.

    events: dicts with id, flag (0 none, 1 poison, 2 slow), custkey, amount.
    batches: finalizer records with kind, ids, groups [[nation, n, amount]]
    and group_ids. A batch holding a poison event must be reported as the
    injected error; else one holding a slow event as a timeout, with its
    result; else as ok. Every event must be reported exactly once.
    Returns (attempted, failed). An injected error reported as required
    counts as a success.
    """
    by_id = {e["id"]: e for e in events}
    seen = {}
    failed = 0
    for b in batches:
        ids = b["ids"]
        for i in ids:
            seen[i] = seen.get(i, 0) + 1
        flags = {by_id[i]["flag"] for i in ids if i in by_id}
        want = "error" if 1 in flags else "timeout" if 2 in flags else "ok"
        bad = b["kind"] != want or any(i not in by_id for i in ids)
        if not bad and want != "error":
            for (nation, n, amount), gids in zip(b["groups"], b["group_ids"]):
                if (n != len(gids) or amount != sum(by_id[i]["amount"] for i in gids)
                        or any(nation_of[by_id[i]["custkey"]] != nation for i in gids)):
                    bad = True
        if bad:
            failed += len(ids)
    failed += sum(1 for i in by_id if seen.get(i, 0) != 1)
    return len(by_id), failed


def dedup_truth(batches, content):
    """Expected exact-dedup status of every row, given the micro-batches
    in commit order (each a list of ids) and each id's content:
    `dup_of_index` if the content was seen in an earlier batch, `new` for
    the smallest id carrying it in its first batch, else `dup_in_increment`."""
    indexed = set()
    want = {}
    for ids in batches:
        first = {}
        for i in sorted(ids):
            c = content[i]
            if c in indexed:
                want[i] = "dup_of_index"
            elif c in first:
                want[i] = "dup_in_increment"
            else:
                first[c] = i
                want[i] = "new"
        indexed.update(first)
    return want


def check_stream(n_events, batches, content):
    """Checks every streaming dedup status against the generator's truth.

    batches: finalizer records in order, each with ids, status and error.
    Returns (attempted, failed): a wrong status, a batch reported with an
    error, a missing id or one reported twice each count as failed.
    """
    want = dedup_truth([b["ids"] for b in batches], content)
    seen = {}
    failed = 0
    for b in batches:
        if b.get("error"):
            failed += max(1, len(b["ids"]))
        for i, s in zip(b["ids"], b["status"]):
            seen[i] = seen.get(i, 0) + 1
            if not 0 <= i < n_events or want.get(i) != s:
                failed += 1
    failed += sum(1 for i in range(n_events) if seen.get(i, 0) != 1)
    return n_events, failed


def check_digests(got, stored):
    """Compares each query's [rows, hashsum] with the stored digest; a
    stored hashsum of None means the result is checked by row count
    only. Returns the names that do not match."""
    bad = []
    for q, want in stored.items():
        have = got.get(q)
        if have is None or have[0] != want[0] or (want[1] is not None and have[1] != want[1]):
            bad.append(q)
    return bad
