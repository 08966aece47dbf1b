"""Span hierarchy and self-time arithmetic for the traced run.

Spans come from outside the engine only: the benchmark's own cycle and
command timers, the Warehouse Monitor's relation start/finish events,
and the Spark listeners the benchmark registers (SQL executions with
their planning phases, jobs, stages). Hierarchy:

    cycle > command > relation step > SQL execution > planning phase / stage

A span is a dict with id, parent, kind, name, start, end (epoch ms),
run and cycle.
"""

KINDS = ("cycle", "command", "relation", "sql", "plan", "stage")
# The deepest kind covering an instant owns it in the layer table.
PRIORITY = {k: i for i, k in enumerate(KINDS)}


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ((start, end) pairs), clipped
    to [lo, hi] when given. Overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """Duration of `span` minus the part of it its children cover."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def self_times(spans):
    """{span id: self time} for a list of spans linked by `parent`."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: self_time(s, kids.get(s["id"], [])) for s in spans}


def layer_table(spans, lo, hi):
    """Attribute every instant of [lo, hi] to the deepest span kind
    covering it (stage > plan > sql > relation > command > cycle), so
    concurrent and overlapping spans are counted once and the rows sum
    to hi - lo. Command time is keyed by command name; time covered by
    no span at all, or by the cycle alone, is `unattributed`."""
    events = []
    for s in spans:
        a, b = max(s["start"], lo), min(s["end"], hi)
        if b <= a:
            continue
        key = ("command:" + s["name"]) if s["kind"] == "command" else s["kind"]
        if s["kind"] == "cycle":
            key = "unattributed"
        events.append((a, 1, key, PRIORITY[s["kind"]]))
        events.append((b, -1, key, PRIORITY[s["kind"]]))
    events.sort(key=lambda e: (e[0], e[1]))
    active = {}
    out = {}
    prev = lo
    for t, delta, key, prio in events + [(hi, 0, None, -1)]:
        if t > prev:
            live = [k for k, n in active.items() if n > 0]
            owner = max(live, key=lambda k: k[1])[0] if live else "unattributed"
            out[owner] = out.get(owner, 0.0) + (t - prev)
            prev = t
        if key is not None:
            active[(key, prio)] = active.get((key, prio), 0) + delta
    return out


def _inside(inner, outer):
    return outer["start"] <= inner["start"] + 1 and inner["end"] <= outer["end"] + 1


def build(result, run_id):
    """The span list of the traced cycles of one run (see module doc).
    Listener timestamps have millisecond resolution, so containment
    allows 1 ms of slack."""
    spans = []

    def add(kind, name, start, end, parent, cycle):
        sp = {"id": len(spans), "parent": parent, "kind": kind, "name": name,
              "start": float(start), "end": float(end), "run": run_id, "cycle": cycle}
        spans.append(sp)
        return sp

    cycles = [c for c in result["cycles"] if c["traced"]]
    by_cycle = {}
    for c in cycles:
        by_cycle[c["cycle"]] = add("cycle", f"cycle {c['cycle']}", c["start"], c["end"],
                                   None, c["cycle"])
    commands = []
    for c in result["commands"]:
        if c["cycle"] in by_cycle:
            commands.append(add("command", c["name"], c["start"], c["end"],
                                by_cycle[c["cycle"]]["id"], c["cycle"]))

    def containing(sp, candidates):
        inner = [c for c in candidates if _inside(sp, c)]
        return min(inner, key=lambda c: c["end"] - c["start"]) if inner else None

    def owner(probe, cmd):
        """The one relation step containing `probe`, else its command
        (concurrent builds can leave the owner ambiguous)."""
        rels_in = [rel for rel in relations if _inside(probe, rel)]
        return rels_in[0] if len(rels_in) == 1 else cmd

    relations = []
    for e in result["monitor"]:
        if e["event"] == "start":
            continue
        start, end = e["ts"] - 1000.0 * e["elapsed"], e["ts"]
        probe = {"start": start, "end": end}
        cmd = containing(probe, commands)
        if cmd is not None:
            sp = add("relation", e["target"], start, end, cmd["id"], cmd["cycle"])
            sp["step"] = e["step"]
            relations.append(sp)

    recs = result.get("trace", [])
    sql_end = {r["exec"]: r["end"] for r in recs if r["kind"] == "sql_end"}
    qes = {r["exec"]: r for r in recs if r["kind"] == "qe"}
    sql_spans = {}
    for r in recs:
        if r["kind"] != "sql" or r["exec"] not in sql_end:
            continue
        probe = {"start": r["start"], "end": sql_end[r["exec"]]}
        cmd = containing(probe, commands)
        if cmd is None:
            continue
        qe = qes.get(r["exec"], {})
        path = qe.get("path", "")
        parent = None
        if path:
            # the build's data directory is data/<position schema>.<table>/<id>
            for rel in relations:
                table = rel["name"].split(".", 1)[-1]
                schema = rel["name"].split(".", 1)[0]
                if rel["cycle"] == cmd["cycle"] and (f".{table}/" in path) and (
                        f"/{schema}." in path or f"__{schema}." in path) and \
                        rel["start"] - 1 <= probe["start"] <= rel["end"] + 1:
                    parent = rel
                    break
        if parent is None:
            parent = owner(probe, cmd)
        sp = add("sql", r.get("desc", ""), probe["start"], probe["end"], parent["id"],
                 cmd["cycle"])
        sp["exec"] = r["exec"]
        sql_spans[r["exec"]] = sp
    # Planning phases: analysis usually happens when the query is built,
    # before its execution starts, so a phase hangs under its SQL span
    # when it lies inside it and under the containing span otherwise.
    for ex, qe in qes.items():
        for ph in qe.get("phases", []):
            probe = {"start": ph["start"], "end": ph["end"]}
            sql = sql_spans.get(ex)
            if sql is not None and _inside(probe, sql):
                parent = sql
            else:
                cmd = containing(probe, commands)
                if cmd is None:
                    continue
                parent = owner(probe, cmd)
            add("plan", ph["phase"], ph["start"], ph["end"], parent["id"], parent["cycle"])
    job_exec = {}
    for r in recs:
        if r["kind"] == "job":
            for st in r["stages"]:
                job_exec[st] = r["exec"]
    for r in recs:
        if r["kind"] != "stage" or r["start"] <= 0:
            continue
        probe = {"start": r["start"], "end": r["end"]}
        parent = sql_spans.get(job_exec.get(r["stage"], -1))
        if parent is None:
            parent = containing(probe, relations) or containing(probe, commands)
        if parent is None:
            continue
        sp = add("stage", f"stage {r['stage']}", r["start"], r["end"], parent["id"],
                 parent["cycle"])
        sp["stage"] = r["stage"]
    return spans


def report(spans):
    """Per-run attribution: the layer table over all traced cycles, its
    unattributed share, and each command's driver self time (command wall
    outside every planning and stage span)."""
    cycles = [s for s in spans if s["kind"] == "cycle"]
    wall = sum(c["end"] - c["start"] for c in cycles)
    layers = {}
    for c in cycles:
        inside = [s for s in spans if s["cycle"] == c["cycle"]]
        for k, v in layer_table(inside, c["start"], c["end"]).items():
            layers[k] = layers.get(k, 0.0) + v
    busy = [(s["start"], s["end"]) for s in spans if s["kind"] in ("plan", "stage")]
    driver = {}
    for s in spans:
        if s["kind"] == "command":
            covered = union_length(busy, s["start"], s["end"])
            driver[s["name"]] = driver.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    n = max(len(cycles), 1)
    return {
        "cycles": len(cycles),
        "wall_ms": wall,
        "layers_ms_per_cycle": {k: v / n for k, v in sorted(layers.items())},
        "unattributed_share": layers.get("unattributed", 0.0) / wall if wall else 0.0,
        "driver_self_ms_per_cycle": {k: v / n for k, v in sorted(driver.items())},
    }
