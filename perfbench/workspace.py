"""Seeded synthetic TimeCamp workspace, served in-process as a ``Transport``.

`make_workspace` builds API-shaped payloads for the five datasets the
pipeline lands, at any size, from one seed. It keeps the edge cases of the
program's own demo fixture (``sources/fixtures.demo_workspace``):
duplicate entry ids, disabled users, orphan parents, ``''``/``'0'``/NULL
roots and ``g``-prefixed group ids. It also returns what the landed tables
must hold: the row count of every table, and every row of the ``tasks``,
``users`` and ``entries`` tables (breadcrumbs, level columns and primary
groups included).

`write_fact_entries` writes a large ``entries`` table over a workspace's
tasks and users with DuckDB, from the same seed, for the report workload:
at a million rows, Python-made rows, or a Spark job in a cold session,
would take longer than a run can spend on set-up.

`WorkspaceTransport` answers the client's requests from those payloads
with the server-side filtering the real API does (entry windows, activity
date grids, application id lists). A seeded small share of first attempts
gets ``429`` with ``Retry-After: 0``, so the client's retry path runs
without sleeping. Response bodies are cached per request, so the time
spent in the transport is the client's, not a simulated server's.
"""

from __future__ import annotations

import datetime
import hashlib
import itertools
import json
import os
import random
from dataclasses import dataclass, field
from typing import Any

START = datetime.date(2026, 1, 5)
WORDS = (
    "alpha", "beacon", "cedar", "delta", "ember", "falcon", "garnet", "harbor",
    "iris", "juniper", "kestrel", "lumen", "meadow", "nimbus", "onyx", "pioneer",
    "quartz", "raven", "sierra", "tundra", "umber", "vortex", "willow", "zephyr",
)
DAYS = 60
# task trees have at most 8 levels (the landed tasks table has 8 level
# columns), group trees at most 5 (users carry 5)
TASK_LEVELS = 8
GROUP_LEVELS = 5
# depth of a new non-root task below its root: 1 is most likely
DEPTH_WEIGHTS = (30, 25, 18, 12, 8, 5, 2)
# share of first attempts answered with 429: an ELT run makes ~18 requests,
# so most runs take the retry path at least once
RETRY_RATE = 0.2


@dataclass
class Workspace:
    seed: int
    tasks: dict[str, dict[str, Any]]
    users: list[dict[str, Any]]
    disabled: set[str]
    people_picker: dict[str, Any]
    entries: list[dict[str, Any]]
    activities: list[dict[str, Any]]
    applications: dict[str, dict[str, Any]]
    from_date: str
    to_date: str
    dates: list[str]
    #: rows each landed table must hold
    expected_rows: dict[str, int] = field(default_factory=dict)
    #: landed rows of tasks, users and entries, in the landed column order
    tables: dict[str, list[tuple]] = field(default_factory=dict)

    def fingerprint(self) -> str:
        """Digest of every payload the transport can serve."""
        blob = json.dumps(
            [self.tasks, self.users, sorted(self.disabled), self.people_picker,
             self.entries, self.activities, self.applications, self.dates],
            sort_keys=True, default=str,
        )
        return hashlib.sha256(blob.encode()).hexdigest()


def _strip(s: Any, prefix: str) -> str:
    s = str(s)
    return s[len(prefix):] if s.startswith(prefix) else s


def _canonical_parent(p: Any, prefix: str = "") -> str | None:
    # the pipeline's null_canonical: '' / '0' / NULL are roots
    s = _strip("" if p is None else p, prefix)
    return None if s in ("", "0") else s


def _path(nodes: dict[str, tuple[str | None, str]], nid: str) -> list[str]:
    """Names from the root down to ``nid`` over (parent, name) nodes; a
    missing parent or a repeated id ends the walk."""
    parent, name = nodes[nid]
    path, seen = [name], {nid}
    while parent is not None and parent in nodes and parent not in seen:
        seen.add(parent)
        parent, name = nodes[parent]
        path.insert(0, name)
    return path


def _levels(path: list[str], n: int) -> tuple[str, ...]:
    return tuple(path[i] if i < len(path) else "" for i in range(n))


def _landed_tables(ws: "Workspace") -> dict[str, list[tuple]]:
    nodes = {t: (_canonical_parent(v["parent_id"]), v["name"]) for t, v in ws.tasks.items()}
    tasks = []
    for tid, v in ws.tasks.items():
        path = _path(nodes, tid)
        b = v["budgeted"]
        tasks.append((tid, nodes[tid][0], v["name"], 0 if b is None else int(b),
                      v["public_hash"], v["task_key"], " / ".join(path), *_levels(path, 8)))

    groups = ws.people_picker["groups"]
    gnodes = {_strip(g["group_id"], "g"): (_canonical_parent(g["parent_id"], "g"), g["name"])
              for g in groups}
    primary: dict[str, str] = {}  # user -> smallest numeric group id
    for g in groups:
        gid = _strip(g["group_id"], "g")
        for u in g["users"]:
            uid = _strip(u, "u")
            if uid not in primary or int(gid) < int(primary[uid]):
                primary[uid] = gid
    users = []
    for u in ws.users:
        uid = str(u["user_id"])
        if uid in ws.disabled:
            continue
        gid = primary.get(uid)
        path = _path(gnodes, gid) if gid else []
        users.append((uid, u["email"], u["display_name"], True, gid,
                      gnodes[gid][1] if gid else "", " / ".join(path), *_levels(path, 5)))

    entries = {}
    for e in ws.entries:
        tags = e["tags"]
        entries.setdefault(str(e["id"]), (
            str(e["id"]), str(e["task_id"]), str(e["user_id"]),
            datetime.date.fromisoformat(e["date"]), int(e["duration"]), e["description"],
            json.dumps(tags, separators=(",", ":")) if tags else None,
            None, e.get("rate"),
        ))
    return {"tasks": tasks, "users": users, "entries": list(entries.values())}


def _id_form(rng: random.Random, i: int) -> Any:
    # the API mixes numeric and string ids
    return i if rng.random() < 0.5 else str(i)


def _make_tasks(rng: random.Random, n: int, levels: int) -> dict[str, dict[str, Any]]:
    ids = rng.sample(range(1000, 1000 + 20 * n), n)
    n_roots = max(4, n // 40)
    n_orphans = max(2, n // 200)
    root_forms = (0, "0", "", None)
    by_depth: list[list[int]] = [[] for _ in range(levels)]
    tasks: dict[str, dict[str, Any]] = {}
    for i, tid in enumerate(ids):
        if i < n_roots:
            parent: Any = root_forms[i % len(root_forms)]
            depth = 0
        elif i < n_roots + n_orphans:
            parent = _id_form(rng, 10_000_000 + i)  # no task has this id
            depth = 0
        else:
            depth = rng.choices(range(1, levels), weights=DEPTH_WEIGHTS[: levels - 1])[0]
            while not by_depth[depth - 1]:
                depth -= 1
            parent = _id_form(rng, rng.choice(by_depth[depth - 1]))
        by_depth[depth].append(tid)
        budget = rng.random()
        tasks[str(tid)] = {
            "task_id": _id_form(rng, tid),
            "parent_id": parent,
            "name": f"{rng.choice(WORDS).title()} {tid}",
            "budgeted": (
                0 if budget < 0.45
                else None if budget < 0.5
                else str(60 * rng.randrange(1, 12000)) if budget < 0.6
                else 60 * rng.randrange(1, 12000)
            ),
            "public_hash": f"ph{rng.getrandbits(40):x}",
            "task_key": f"K{tid}",
            "users": {str(rng.randrange(100)): {}},
            "perms": {},
        }
    return tasks


def _make_groups(rng: random.Random, n: int, levels: int) -> list[dict[str, Any]]:
    ids = rng.sample(range(10, 10 + 10 * n), n)
    depth_of: dict[int, int] = {}
    groups = []
    for i, gid in enumerate(ids):
        if i < max(2, n // 8):
            parent: Any = ("0", None, "")[i % 3]
            depth_of[gid] = 0
        else:
            cands = [g for g in ids[:i] if depth_of[g] < levels - 1]
            p = rng.choice(cands)
            depth_of[gid] = depth_of[p] + 1
            parent = f"g{p}" if rng.random() < 0.3 else str(p)
        groups.append({
            "group_id": f"g{gid}" if rng.random() < 0.3 else str(gid),
            "name": f"{rng.choice(WORDS).title()} team {gid}",
            "parent_id": parent,
            "users": {},
        })
    return groups


def make_workspace(
    seed: int, n_tasks: int, n_users: int, n_entries: int, n_activities: int, n_apps: int,
) -> Workspace:
    """Payloads for a workspace of the given size over `DAYS` days."""
    rng = random.Random(seed)
    tasks = _make_tasks(rng, n_tasks, TASK_LEVELS)
    task_ids = list(tasks)

    user_ids = [str(u) for u in rng.sample(range(100_000, 100_000 + 50 * n_users), n_users)]
    users = [
        {"user_id": _id_form(rng, int(u)), "email": f"user{u}@example.com",
         "display_name": f"{rng.choice(WORDS).title()} {u}"}
        for u in user_ids
    ]
    disabled = {u for u in user_ids if rng.random() < 0.08}
    groups = _make_groups(rng, max(4, n_users // 10), GROUP_LEVELS)
    for u in user_ids:
        if rng.random() < 0.1:
            continue  # no group: the landed group fields are ''
        for g in rng.sample(groups, rng.choice((1, 1, 2))):
            g["users"][f"u{u}"] = {"user_id": f"u{u}"}

    dates = [str(START + datetime.timedelta(days=d)) for d in range(DAYS)]
    # a few tasks carry most of the time, as in a real workspace
    task_cum = list(itertools.accumulate(rng.paretovariate(1.5) for _ in task_ids))
    entries: list[dict[str, Any]] = []
    for k in range(n_entries):
        e = {
            "id": _id_form(rng, 50_000_000 + k),
            "task_id": _id_form(rng, int(rng.choices(task_ids, cum_weights=task_cum)[0])),
            "user_id": _id_form(rng, int(rng.choice(user_ids))),
            "date": rng.choice(dates),
            "duration": str(60 * rng.randrange(1, 480)) if rng.random() < 0.3
            else 60 * rng.randrange(1, 480),
            "description": " ".join(rng.choices(WORDS, k=rng.randrange(0, 6))),
            "tags": rng.choice((None, [], [{"tagId": str(rng.randrange(50))}])),
        }
        if rng.random() < 0.2:
            e["rate"] = round(rng.uniform(10, 200), 2)
        entries.append(e)
        if rng.random() < 0.01:
            entries.append(dict(e))  # duplicate id: dedup-by-pk keeps one

    app_ids = [str(a) for a in rng.sample(range(500, 500 + 10 * n_apps), n_apps)]
    applications = {
        a: {"application_id": a, "app_name": f"{rng.choice(WORDS)}.bin",
            "full_name": rng.choice(("", f"{rng.choice(WORDS).title()} Suite")),
            "aditional_info": rng.choice(("", "Web Browser", "Editor")),
            "category_id": str(rng.randrange(0, 19)), "type": "desktop",
            "icon_url": ""}
        for a in app_ids
    }
    unknown_apps = [str(900_000 + i) for i in range(3)]  # not in the catalog
    activities = []
    for _ in range(n_activities):
        r = rng.random()
        app = (None if r < 0.02 else "0" if r < 0.07
               else rng.choice(unknown_apps) if r < 0.08 else rng.choice(app_ids))
        day = rng.choice(dates)
        start = rng.randrange(0, 86_000)
        dur = rng.randrange(1, 400)
        activities.append({
            "user_id": rng.choice(user_ids), "application_id": app,
            "window_title": f"{rng.choice(WORDS)} - {rng.choice(WORDS)}",
            "start_time": f"{day} {start // 3600:02d}:{start // 60 % 60:02d}:{start % 60:02d}",
            "end_time": day, "end_date": day, "duration": dur,
        })

    seen_apps = {a["application_id"] for a in activities}
    ws = Workspace(
        seed=seed, tasks=tasks, users=users, disabled=disabled,
        people_picker={"groups": groups}, entries=entries, activities=activities,
        applications=applications, from_date=dates[0], to_date=dates[-1], dates=dates,
    )
    ws.expected_rows = {
        "tasks": len(tasks),
        "users": len(set(user_ids) - disabled),
        "entries": len({str(e["id"]) for e in entries}),
        "computer_activities": len(activities),
        "application_names": len(seen_apps & set(applications)),
    }
    ws.tables = _landed_tables(ws)
    return ws


class WorkspaceTransport:
    """``Transport`` over a `Workspace`: ``(method, url, params) ->
    (status, headers, body)``. ``requests`` and ``retries`` count every
    call and every ``429`` served; the ``429`` draw is seeded by the
    workspace's seed."""

    def __init__(self, ws: Workspace):
        self.ws = ws
        self.requests = 0
        self.retries = 0
        self._bodies: dict[str, str] = {}
        self._rng = random.Random(ws.seed * 7919 + 1)
        self._last_429: str | None = None

    def __call__(self, method: str, url: str, params: dict[str, Any]):
        self.requests += 1
        key = url + "?" + json.dumps(params, sort_keys=True, default=str)
        if key != self._last_429 and self._rng.random() < RETRY_RATE:
            self._last_429 = key
            self.retries += 1
            return 429, {"Retry-After": "0"}, '{"message": "rate limited"}'
        self._last_429 = None
        body = self._bodies.get(key)
        if body is None:
            body = self._bodies[key] = json.dumps(self._payload(url, params))
        return 200, {}, body

    def _payload(self, url: str, params: dict[str, Any]) -> Any:
        ws = self.ws
        endpoint = url.rstrip("/").rsplit("/", 1)[-1]
        if endpoint == "tasks":
            return ws.tasks
        if endpoint == "users":
            return ws.users
        if endpoint == "people_picker":
            return ws.people_picker
        if endpoint == "user_settings":
            ids = [u for u in str(params.get("user_ids", "")).split(",") if u]
            return [{"user_id": u, "value": "1" if u in ws.disabled else "0"} for u in ids]
        if endpoint == "entries":
            lo, hi = str(params.get("from", "")), str(params.get("to", "9999"))
            return [e for e in ws.entries if lo <= e["date"] <= hi]
        if endpoint == "computer_activities":
            days = {str(v) for k, v in params.items() if str(k).startswith("dates[")}
            uids = {u for u in str(params.get("user_id", "")).split(",") if u}
            return [
                a for a in ws.activities
                if a["end_date"] in days and (not uids or a["user_id"] in uids)
            ]
        if endpoint == "application":
            ids = str(params.get("application_ids", "")).split(",")
            return {a: ws.applications[a] for a in ids if a in ws.applications}
        raise ValueError(f"no route for {url}")


# ---------------------------------------------------------------------------
# fact table made in DuckDB
# ---------------------------------------------------------------------------

#: task ids drawn (Pareto-weighted) for the fact rows to pick from
TASK_DRAWS = 4096


def write_fact_entries(con, ws: Workspace, n: int, path: str) -> None:
    """Write ``n`` landed ``entries`` rows over the workspace's tasks, users
    and dates as one parquet file under the directory ``path``, in the
    landed column order and types. Every column is a hash of the row
    number and the seed; ids are distinct."""
    rng = random.Random(ws.seed * 104729 + 3)
    task_ids = list(ws.tasks)
    cum = list(itertools.accumulate(rng.paretovariate(1.5) for _ in task_ids))
    params = {
        "tasks": rng.choices(task_ids, cum_weights=cum, k=TASK_DRAWS),
        "users": [str(u["user_id"]) for u in ws.users],
        "words": list(WORDS),
    }

    def pick(salt: int, m: int) -> str:
        return f"CAST(hash(i, {int(ws.seed)}, {salt}) % {m} AS BIGINT)"

    os.makedirs(path)
    con.execute(f"""
        COPY (
        WITH tasks AS (SELECT unnest(range(len($tasks))) AS k, unnest($tasks) AS task_id),
             users AS (SELECT unnest(range(len($users))) AS k, unnest($users) AS user_id),
             words AS (SELECT unnest(range(len($words))) AS k, unnest($words) AS description),
             f AS (SELECT i, {pick(1, TASK_DRAWS)} AS t, {pick(2, len(params["users"]))} AS u,
                          {pick(3, len(WORDS))} AS w FROM range({n}) r(i))
        SELECT
            CAST(50000000 + i AS VARCHAR) AS id,
            task_id,
            user_id,
            DATE '{START}' + CAST({pick(4, DAYS)} AS INTEGER) AS date,
            60 * (1 + {pick(5, 479)}) AS duration,
            description,
            CASE WHEN {pick(6, 3)} = 0
                 THEN '[{{"tagId":"' || {pick(7, 50)} || '"}}]' END AS tags,
            CAST(NULL AS VARCHAR) AS project_name,
            CASE WHEN {pick(8, 5)} = 0
                 THEN CAST(round(10 + {pick(9, 19_001)} / 100, 2) AS DOUBLE) END AS rate
        FROM f JOIN tasks ON f.t = tasks.k JOIN users ON f.u = users.k
        JOIN words ON f.w = words.k ORDER BY i
        ) TO '{path}/part-0.parquet' (FORMAT PARQUET)""", params)
