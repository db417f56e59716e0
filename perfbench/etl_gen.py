"""Ender-Turing payload generator and expected-state model for etl_sync.

The generator writes API page dumps in the `graft-paged` layout
(`<prefix>-<n>.json`, each one JSON array, ending with an empty `[]`
page): the 7 dictionaries and the nested sessions.  Everything is drawn
from one seeded RNG, so a seed fixes every page byte for byte.

The model is independent of the engine: it replays each batch the
benchmark feeds the pipeline with plain last-wins dictionaries keyed by
the warehouse's unique constraints, and predicts every warehouse table.
`check()` reads the warehouse's parquet tables back and compares them
with that prediction by row count and an order-insensitive content hash.
"""
import hashlib
import json
import os
import pickle
import random
import subprocess
import sys
from datetime import date, datetime, timedelta

WINDOW_DAYS = 30  # the reference's late-review re-sync window
EPOCH = datetime(2024, 1, 1)

# Input properties; NOTES.md gives each value's source, or says that it is
# an assumption or set by the run length.
DEFAULTS = {
    "sessions_per_day": 100,
    "backfill_days": 60,
    "cycles": 1,                    # one cycle is ~155 Spark jobs, ~29 s on 4 cores
    "page_records": 500,
    "late_review_share": 0.25,      # share of a cycle's daily rows that update existing keys
    "late_review_max_age_days": 30,
    "categories_changed_per_cycle": 1,
    "agents_changed_per_cycle": 2,
    "tags_per_session": 2,          # child fan-out: tags x matches, categories
    "matches_per_tag": 2,
    "categories_per_session": 2,
    "reviewed_share": 0.05,         # new sessions that arrive already reviewed
}

# Warehouse tables: (columns, upsert key).  Mirrors the star schema the
# pipeline loads; the key is the table's unique constraint.
TABLES = {
    "agents": (["id", "name", "phone_number", "is_active", "deactivated_at"], ["id"]),
    "agent_group_associations": (["group_id", "agent_id", "start_dt"],
                                 ["group_id", "agent_id", "start_dt"]),
    "scorecards": (["id", "name", "type", "na_behavior", "count_critical_scores",
                    "is_automated", "is_protected", "is_default", "is_archived"], ["id"]),
    "scorecard_categories": (["id", "name", "scorecard_id", "sort_order"],
                             ["id", "scorecard_id"]),
    "scorecard_points": (["id", "scorecard_id", "category_id", "name", "description",
                          "sort_order", "critical", "max_score", "allow_partial_score"],
                         ["id", "scorecard_id"]),
    "groups": (["id", "name", "scorecard_id", "is_default"], ["id"]),
    "labels": (["id", "text"], ["id"]),
    "categories": (["id", "name", "filter_data", "position", "created_at", "updated_at"],
                   ["id"]),
    "category_labels": (["category_id", "label_id"], ["category_id", "label_id"]),
    "tags": (["id", "name", "type", "team_id", "is_archived", "archived_by_id",
              "archived_at"], ["id"]),
    "tag_labels": (["tag_id", "label_id"], ["tag_id", "label_id"]),
    "users": (["id", "email", "is_active", "is_superuser", "full_name", "agent_id",
               "agent_group_id", "language", "uuid", "invite_expires"], ["id"]),
    "sessions": (["id", "type", "caller_id", "source", "language_code", "asr_size",
                  "filename", "destination_id", "start_dt", "direction", "agent_id",
                  "group_id", "duration", "silence", "silence_percent", "agent_channel",
                  "comments_count", "default_scorecard_id", "average_score",
                  "is_processed", "overlaps_data", "duration_details", "score_details",
                  "queue_name", "campaign_name", "term_reason", "waiting_time", "fcr",
                  "csi", "nps", "list_id", "words_count_agent", "words_count_client",
                  "words_count_both", "caller_prev_session_id", "additional_info",
                  "start_date"], ["id"]),
    "sessions_tags": (["session_id", "tag_id", "score", "matched_corpus_text", "is_agent",
                       "transcript_id", "matched_query_text", "meta"],
                      ["session_id", "tag_id", "transcript_id"]),
    "sessions_categories": (["session_id", "category_id", "is_verified"],
                            ["session_id", "category_id", "is_verified"]),
    "sessions_reviewers": (["session_id", "reviewer_id", "last_reviewed_at"],
                           ["session_id", "reviewer_id"]),
    "sessions_scores": (["session_id", "scorecard_id", "reviewer_id", "scorecard_point_id",
                         "score", "comment"],
                        ["session_id", "scorecard_id", "reviewer_id", "scorecard_point_id"]),
    "sessions_comments": (["session_id", "author_id", "text"], ["session_id"]),
    "sessions_summaries": (["session_id", "text"], ["session_id", "text"]),
    "sessions_crm_statuses": (["session_id", "crm_status"], ["session_id", "crm_status"]),
}

WORDS = ("billing invoice refund cancel upgrade delay payment account password "
         "delivery address tariff roaming contract discount outage router").split()


def ts(dt):
    return dt.strftime("%Y-%m-%dT%H:%M:%S")


def _wh_ts(s):
    """Warehouse form of a payload timestamp (second precision)."""
    return None if s is None else s.replace("T", " ")


class World:
    """The evolving API state behind the dumps: dictionaries plus every
    session ever created, each at its latest version."""

    def __init__(self, seed, params=None):
        self.p = dict(DEFAULTS, **(params or {}))
        self.rng = random.Random(seed)
        r = self.rng
        self.labels = [{"id": 900 + i, "text": f"{r.choice(WORDS)}-{i}",
                        "color": r.choice(["red", "blue", None])} for i in range(40)]
        self.scorecards = []
        point_id = 1000
        for s in range(1, 5):
            cats = []
            for c in range(3):
                cid = s * 100 + c
                points = []
                for k in range(3):
                    points.append({"id": point_id, "scorecard_id": s, "category_id": cid,
                                   "name": f"point {point_id}", "description": r.choice(WORDS),
                                   "sort_order": k + 1, "critical": r.random() < 0.3,
                                   "max_score": r.choice([1, 5, 10]),
                                   "allow_partial_score": r.random() < 0.5,
                                   "score_values": [0, 5], "user_data": {}})
                    point_id += 1
                cats.append({"id": cid, "name": f"cat {cid}", "scorecard_id": s,
                             "sort_order": c + 1, "points": points})
            self.scorecards.append({
                "id": s, "name": f"scorecard {s}", "type": r.choice(["manual", "auto"]),
                "na_behavior": r.choice(["exclude", "zero"]),
                "count_critical_scores": r.random() < 0.5, "is_automated": s % 2 == 0,
                "is_protected": False, "is_default": s == 1, "is_archived": False,
                "team_ids": [10, 11], "categories": cats})
        self.groups = [{"id": 10 + g, "name": f"Team {g}", "scorecard_id": 1 + g % 4,
                        "is_default": g == 0, "additional_scorecards": []} for g in range(8)]
        self.agents = []
        for a in range(1, 61):
            gs = r.sample(self.groups, r.randint(0, 2))
            self.agents.append({
                "id": a, "name": f"Agent {a}", "phone_number": str(100 + a),
                "is_active": r.random() < 0.9,
                "deactivated_at": None if r.random() < 0.8 else ts(EPOCH + timedelta(days=r.randint(0, 90))),
                "groups": [{"id": g["id"], "name": g["name"],
                            "start_dt": ts(EPOCH - timedelta(days=r.randint(1, 400)))} for g in gs],
                "user": {"id": 500 + a}, "reactions": [], "phone_number_aliases": [str(a)]})
        self.categories = []
        for c in range(40):
            self.categories.append({
                "id": 100 + c, "name": f"Category {c}", "filter_data": f"&&[tags,||and|{c}|or]",
                "position": c + 1, "created_at": ts(EPOCH),
                "updated_at": ts(EPOCH + timedelta(hours=c)),
                "labels": [{"id": l["id"], "text": l["text"]}
                           for l in r.sample(self.labels, r.randint(0, 2))]})
        self.tags = [{"id": 70 + t, "name": f"tag {t}", "type": r.choice(["phrase", "word"]),
                      "team_id": 10 + t % 8, "is_archived": False, "archived_by_id": None,
                      "archived_at": None,
                      "labels": [{"id": l["id"]} for l in r.sample(self.labels, r.randint(0, 2))],
                      "words": [r.choice(WORDS)], "phrases": [], "color": "green"}
                     for t in range(50)]
        self.users = [{"id": u, "email": f"user{u}@example.com", "is_active": True,
                       "is_superuser": u == 1, "full_name": f"User {u}",
                       "agent_id": u if u <= 60 else None, "agent_group_id": 10 + u % 8,
                       "language": r.choice(["en", "de", "uk"]),
                       "uuid": f"aaaaaaaa-0000-0000-0000-{u:012d}",
                       "invite_expires": ts(EPOCH + timedelta(days=u)),
                       "role_ids": [1], "permissions": ["read"]} for u in range(1, 41)]
        self.sessions = {}   # id -> latest payload
        self.by_day = {}     # day index -> [ids]
        self.n_sessions = 0

    # -- sessions -----------------------------------------------------

    def _points(self, scorecard_id):
        sc = self.scorecards[scorecard_id - 1]
        return [p for c in sc["categories"] for p in c["points"]]

    def _new_session(self, day):
        r, p = self.rng, self.p
        self.n_sessions += 1
        sid = "%08x-%04x-%04x-%04x-%012x" % (r.getrandbits(32), day & 0xFFFF,
                                             r.getrandbits(16), r.getrandbits(16),
                                             self.n_sessions)
        start = EPOCH + timedelta(days=day, seconds=r.randint(0, 86399))
        agent = r.randint(1, 60)
        dur = round(r.uniform(20, 900), 1)
        sil = round(r.uniform(0, dur / 4), 1)
        tags = []
        for t in r.sample(self.tags, p["tags_per_session"]):
            tags.append({"id": t["id"], "match": [
                {"tag_id": t["id"], "score": round(r.random(), 2),
                 "matched_corpus_text": r.choice(WORDS), "is_agent": r.random() < 0.5,
                 "transcript_id": m + 1, "matched_query_text": r.choice(WORDS), "meta": {}}
                for m in range(p["matches_per_tag"])]})
        cats = [{"id": c["id"], "is_verified": r.random() < 0.5}
                for c in r.sample(self.categories, p["categories_per_session"])]
        s = {
            "id": sid, "type": r.choice(["call", "chat"]), "caller_id": f"+49{r.randint(10**6, 10**7)}",
            "source": r.choice(["pbx", "web"]), "language_code": r.choice(["en", "de", "uk"]),
            "asr_size": "base", "filename": f"{sid[:8]}.wav", "destination_id": str(r.randint(900, 999)),
            "start_dt": ts(start), "direction": r.choice(["in", "out"]),
            "agent_id": agent, "group_id": 10 + agent % 8, "duration": dur, "silence": sil,
            "silence_percent": round(100 * sil / dur, 2), "agent_channel": r.randint(0, 1),
            "comments_count": 0, "default_scorecard_id": 1 + agent % 4,
            "average_score": None, "is_processed": True,
            "overlaps_data": {"client": round(r.uniform(0, 5), 1), "agent": round(r.uniform(0, 5), 1)},
            "duration_details": {"0": round(dur / 2, 1), "1": round(dur / 2, 1)},
            "score_details": {"automated_score": round(r.random(), 2), "manual_score": None},
            "queue_name": r.choice(["support", "sales", "retention"]),
            "campaign_name": r.choice(["none", "q3"]), "term_reason": r.choice(["done", "abandoned"]),
            "waiting_time": r.randint(0, 120), "fcr": r.randint(0, 1), "csi": r.randint(1, 5),
            "nps": r.randint(0, 10), "list_id": r.randint(1, 9),
            "words_count_agent": r.randint(50, 900), "words_count_client": r.randint(50, 900),
            "words_count_both": 0, "caller_prev_session_id": None,
            "additional_info": {"ticket_system_id": str(r.randint(1, 10**6)),
                                "ticket_system_url": "https://tickets.example/" + sid[:8]},
            "tags": tags, "categories": cats, "reviewers": [], "scores": [],
            "comments": [], "summary": [{"text": f"{r.choice(WORDS)} {r.choice(WORDS)}"}],
            "crm_statuses": [{"crm_status": r.choice(["resolved", "open", "escalated"])}],
            "end_dt": ts(start + timedelta(seconds=int(dur))), "updated_at": ts(start),
            "agent_name": f"Agent {agent}", "category_ids": [c["id"] for c in cats],
        }
        s["words_count_both"] = s["words_count_agent"] + s["words_count_client"]
        if r.random() < p["reviewed_share"]:
            self._review(s, start + timedelta(hours=r.randint(1, 48)))
        self.sessions[sid] = s
        self.by_day.setdefault(day, []).append(sid)
        return sid

    def _review(self, s, when):
        """A manual QA review: a reviewer, their point scores, a comment."""
        r = self.rng
        reviewer = r.randint(1, 40)
        if any(x["id"] == reviewer for x in s["reviewers"]):
            reviewer = max(x["id"] for x in s["reviewers"]) % 40 + 1
            if any(x["id"] == reviewer for x in s["reviewers"]):
                return
        s["reviewers"].append({"id": reviewer, "last_reviewed_at": ts(when)})
        scorecard = s["default_scorecard_id"]
        s["scores"].append({"session_id": s["id"], "scorecard_id": scorecard,
                            "reviewer_id": reviewer,
                            "point_scores": [{"scorecard_point_id": pt["id"],
                                              "score": float(r.choice([0, pt["max_score"]])),
                                              "comment": r.choice(["ok", "", "late"])}
                                             for pt in self._points(scorecard)]})
        s["comments"].append({"author_id": reviewer, "text": f"review {r.choice(WORDS)}",
                              "created_at": ts(when)})
        s["comments_count"] = len(s["comments"])
        manual = round(r.random(), 2)
        s["average_score"] = manual
        s["score_details"] = dict(s["score_details"], manual_score=manual)

    def _dicts(self):
        return {"agents": self.agents, "scorecards": self.scorecards, "groups": self.groups,
                "labels": self.labels, "categories": self.categories, "tags": self.tags,
                "users": self.users}

    def backfill(self):
        """Dump of the first `backfill_days` days."""
        sids = [self._new_session(d) for d in range(self.p["backfill_days"])
                for _ in range(self.p["sessions_per_day"])]
        return {"dicts": _copy(self._dicts()), "sessions": [_copy(self.sessions[s]) for s in sids]}

    def cycle(self, c):
        """Cycle c (0-based): the day's sessions, late reviews, a few changed
        categories and agents, and the trailing-window re-extract."""
        r, p = self.rng, self.p
        day = p["backfill_days"] + c
        now = EPOCH + timedelta(days=day + 1)
        new = [self._new_session(day) for _ in range(p["sessions_per_day"])]
        old_days = [d for d in range(max(0, day - p["late_review_max_age_days"]), day)]
        pool = [s for d in old_days for s in self.by_day.get(d, [])]
        n_late = int(round(p["late_review_share"] * len(new) / (1 - p["late_review_share"])))
        late = r.sample(pool, min(n_late, len(pool)))
        for sid in late:
            self._review(self.sessions[sid], now - timedelta(hours=r.randint(1, 20)))
        changed = r.sample(self.categories, p["categories_changed_per_cycle"])
        for cat in changed:
            cat["name"] = f"Category {cat['id'] - 100} v{c + 1}"
            cat["updated_at"] = ts(now - timedelta(minutes=r.randint(1, 600)))
        changed_agents = r.sample(self.agents, p["agents_changed_per_cycle"])
        for ag in changed_agents:
            ag["name"] = f"Agent {ag['id']} v{c + 1}"
            ag["is_active"] = not ag["is_active"]
        daily = [_copy(self.sessions[s]) for s in new + sorted(set(late))]
        # the day's dictionary extract carries the changed rows only
        dicts = {"agents": _copy(changed_agents), "categories": _copy(changed)}
        window = [_copy(self.sessions[s])
                  for d in range(day - WINDOW_DAYS + 1, day + 1) for s in self.by_day.get(d, [])]
        changed_ids = {c["id"] for c in changed}
        incremental = (sum(1 for s in window if s["reviewers"]) +
                       sum(1 for s in window if any(c["id"] in changed_ids for c in s["categories"])))
        return {"dicts": dicts, "sessions": daily, "window": window,
                "now": ts(now), "day": day, "incremental_rows": incremental}


def _copy(x):
    return json.loads(json.dumps(x))


def write_dump(directory, prefix, records, page_records):
    """`<prefix>-<n>.json` pages of at most `page_records` records each,
    then the terminating empty page, as the graft-paged writer does."""
    os.makedirs(directory, exist_ok=True)
    n = 0
    for i in range(0, len(records), page_records):
        with open(os.path.join(directory, f"{prefix}-{n}.json"), "w") as f:
            # json.dumps uses the C encoder; json.dump would stream in Python
            f.write(json.dumps(records[i:i + page_records], separators=(",", ":")))
        n += 1
    with open(os.path.join(directory, f"{prefix}-{n}.json"), "w") as f:
        f.write("[]")
    return n + 1


def generate(out_dir, seed, params=None):
    """Write the backfill and every cycle's dumps under out_dir; returns
    the plan the benchmark JVM follows and the batches the model replays."""
    w = World(seed, params)
    pr = w.p["page_records"]
    batches = {"backfill": w.backfill()}
    plan = {"params": w.p, "seed": seed, "backfill": {}, "cycles": []}
    d = os.path.join(out_dir, "backfill")
    dict_pages = sum(write_dump(d, name, recs, pr) for name, recs in batches["backfill"]["dicts"].items())
    plan["backfill"] = {"dir": d, "dict_pages": dict_pages, "dicts": sorted(batches["backfill"]["dicts"]),
                        "pages": write_dump(d, "sessions", batches["backfill"]["sessions"], pr),
                        "rows": len(batches["backfill"]["sessions"]),
                        "now": ts(EPOCH + timedelta(days=w.p["backfill_days"]))}
    for c in range(w.p["cycles"]):
        b = w.cycle(c)
        batches[c] = b
        d = os.path.join(out_dir, f"cycle{c}")
        dict_pages = sum(write_dump(d, name, recs, pr) for name, recs in b["dicts"].items())
        plan["cycles"].append({
            "dir": d, "now": b["now"], "dict_pages": dict_pages, "dicts": sorted(b["dicts"]),
            "incremental_rows": b["incremental_rows"],
            "pages": write_dump(d, "sessions", b["sessions"], pr),
            "rows": len(b["sessions"]),
            "window_pages": write_dump(d, "window", b["window"], pr),
            "window_rows": len(b["window"])})
    return plan, batches


# -- the expected-state model ------------------------------------------

class Model:
    """Last-wins replay of every batch into per-table {key: row} maps."""

    def __init__(self):
        self.t = {name: {} for name in TABLES}
        self.rows_in = 0  # table rows fed to the loader, over all batches

    def _put_all(self, table, rows):
        # one batch never repeats a key (the loader's precondition), and
        # within a batch the later row wins, as for comments
        staged = {}
        self.rows_in += len(rows)
        cols, keys = TABLES[table]
        for row in rows:
            full = {c: row.get(c) for c in cols}
            staged[tuple(full[k] for k in keys)] = full
        self.t[table].update(staged)

    def apply_dicts(self, d):
        """syncBaseDicts over the entities present in the extract."""
        if "agents" in d:
            self._put_all("agents", [dict(a, deactivated_at=_wh_ts(a["deactivated_at"]))
                                     for a in d["agents"]])
            self._put_all("agent_group_associations",
                          [{"group_id": g["id"], "agent_id": a["id"],
                            "start_dt": _wh_ts(g["start_dt"])}
                           for a in d["agents"] for g in a["groups"]])
        if "scorecards" in d:
            self._put_all("scorecards", d["scorecards"])
            self._put_all("scorecard_categories",
                          [c for s in d["scorecards"] for c in s["categories"]])
            self._put_all("scorecard_points", [p for s in d["scorecards"] for c in s["categories"]
                                               for p in c["points"]])
        if "groups" in d:
            self._put_all("groups", d["groups"])
        if "labels" in d:
            self._put_all("labels", d["labels"])
        if "categories" in d:
            self._put_all("categories", [dict(c, created_at=_wh_ts(c["created_at"]),
                                              updated_at=_wh_ts(c["updated_at"]))
                                         for c in d["categories"]])
            self._put_all("category_labels", [{"category_id": c["id"], "label_id": l["id"]}
                                              for c in d["categories"] for l in c["labels"]])
        if "tags" in d:
            self._put_all("tags", d["tags"])
            self._put_all("tag_labels", [{"tag_id": t["id"], "label_id": l["id"]}
                                         for t in d["tags"] for l in t["labels"]])
        if "users" in d:
            users = [dict(u, invite_expires=_wh_ts(u["invite_expires"])) for u in d["users"]]
            if not any(u["id"] == 0 for u in users):
                users.append({"id": 0, "full_name": "Ender Turing"})
            self._put_all("users", users)

    def apply_sessions(self, sessions):
        if not sessions:
            return
        facts = []
        for s in sessions:
            f = dict(s, start_dt=_wh_ts(s["start_dt"]), start_date=s["start_dt"][:10],
                     additional_info=json.dumps(s["additional_info"], sort_keys=True))
            facts.append(f)
        self._put_all("sessions", facts)
        self._put_all("sessions_tags", [dict(m, session_id=s["id"], meta=json.dumps(m["meta"]))
                                        for s in sessions for t in s["tags"] for m in t["match"]])
        self._put_all("sessions_categories", [{"session_id": s["id"], "category_id": c["id"],
                                               "is_verified": c["is_verified"]}
                                              for s in sessions for c in s["categories"]])
        self._put_all("sessions_reviewers", [{"session_id": s["id"], "reviewer_id": r["id"],
                                              "last_reviewed_at": _wh_ts(r["last_reviewed_at"])}
                                             for s in sessions for r in s["reviewers"]])
        self._put_all("sessions_scores", [dict(p, session_id=sc["session_id"],
                                               scorecard_id=sc["scorecard_id"],
                                               reviewer_id=sc["reviewer_id"])
                                          for s in sessions for sc in s["scores"]
                                          for p in sc["point_scores"]])
        self._put_all("sessions_comments", [{"session_id": s["id"], "author_id": c["author_id"],
                                             "text": c["text"]}
                                            for s in sessions for c in s["comments"]])
        self._put_all("sessions_summaries", [{"session_id": s["id"], "text": x["text"]}
                                             for s in sessions for x in s["summary"]])
        self._put_all("sessions_crm_statuses", [{"session_id": s["id"], "crm_status": x["crm_status"]}
                                                for s in sessions for x in s["crm_statuses"]])

    def apply_incremental(self, window, changed_since):
        """runIncremental: re-upsert reviewed sessions of the window, then
        sessions referencing a category updated after `changed_since`."""
        self.apply_sessions([s for s in window if s["reviewers"]])
        changed = {c["id"] for c in self.t["categories"].values()
                   if c["updated_at"] is not None and c["updated_at"] > _wh_ts(changed_since)}
        self.apply_sessions([s for s in window if any(c["id"] in changed for c in s["categories"])])

    def digest(self):
        names = sorted(self.t)
        return dict(zip(names, _map(_digest, [list(self.t[n].values()) for n in names])))


def replay(batches, n_cycles, plan):
    """Model states after the backfill and after cycle n_cycles, and the
    table rows fed to the loader by the backfill and by each cycle."""
    m = Model()
    m.apply_dicts(batches["backfill"]["dicts"])
    m.apply_sessions(batches["backfill"]["sessions"])
    states, rows_in = [m.digest()], [m.rows_in]
    prev_wm = plan["backfill"]["now"]
    for c in range(n_cycles):
        b = batches[c]
        before = m.rows_in
        m.apply_dicts(b["dicts"])
        m.apply_sessions(b["sessions"])
        m.apply_incremental(b["window"], prev_wm)
        prev_wm = b["now"]
        rows_in.append(m.rows_in - before)
    states.append(m.digest())
    return states, rows_in


# -- canonical form and comparison -----------------------------------

def _canon_value(v):
    if isinstance(v, str) and v[:1] in "{[":
        try:
            return _canon_value(json.loads(v))
        except ValueError:
            return v
    if isinstance(v, dict):
        return {k: _canon_value(x) for k, x in sorted(v.items()) if x is not None}
    if isinstance(v, list):
        return [_canon_value(x) for x in v]
    if isinstance(v, float) and v.is_integer():
        return v  # 5.0 stays a float; ints stay ints
    return v


def canon_row(row):
    """One row as a canonical string: nulls dropped, keys sorted, JSON-text
    columns parsed, numbers as floats so 5 and 5.0 agree."""
    out = {}
    for k, v in row.items():
        if v is None:
            continue
        t = type(v)
        if t is int or t is float:
            v = float(v)
        elif t is str:
            if v[:1] in "{[":
                v = _canon_value(v)
        elif t is not bool:
            v = _canon_value(v)
        out[k] = v
    return json.dumps(out, sort_keys=True, separators=(",", ":"))


def _digest(rows):
    canon = sorted(canon_row(r) for r in rows)
    h = hashlib.sha256()
    for c in canon:
        h.update(c.encode())
        h.update(b"\n")
    return {"rows": len(canon), "sha256": h.hexdigest(), "canon": canon}


def _plain(v):
    """A DuckDB value in the payload's JSON domain."""
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):  # a MAP
            return {str(k): _plain(x) for k, x in zip(v["key"], v["value"])}
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


def read_table(table_dir):
    """Rows of one warehouse table: its parquet files, with hive-style
    partition directories read back as columns."""
    import duckdb
    con = duckdb.connect()
    rel = con.sql(f"SELECT * FROM read_parquet('{table_dir}/**/*.parquet', "
                  f"hive_partitioning = true)")
    cols = rel.columns
    return [{c: _plain(v) for c, v in zip(cols, row)} for row in rel.fetchall()]


def _map(fn, items, weight=len):
    """fn over items in up to 4 worker processes (this file run with
    `--worker <fn>`, pickles over pipes), each of which has been waited
    for when this returns, on every path out of it. Items go to the least
    loaded worker, heaviest first, by `weight`."""
    n = min(4, os.cpu_count() or 1, len(items))
    if n <= 1:
        return [fn(x) for x in items]
    load, chunks = [0] * n, [[] for _ in range(n)]
    for i in sorted(range(len(items)), key=lambda i: -weight(items[i])):
        w = load.index(min(load))
        chunks[w].append(i)
        load[w] += weight(items[i])
    procs = []
    try:
        for idx in chunks:
            p = subprocess.Popen([sys.executable, os.path.abspath(__file__), "--worker", fn.__name__],
                                 stdin=subprocess.PIPE, stdout=subprocess.PIPE)
            procs.append(p)
            # a worker reads all of its input before it writes, so this cannot block for good
            p.stdin.write(pickle.dumps([items[i] for i in idx]))
            p.stdin.close()
        out = [None] * len(items)
        for idx, p in zip(chunks, procs):
            res = p.stdout.read()
            if p.wait() != 0:
                raise RuntimeError(f"{fn.__name__} worker failed (exit {p.returncode})")
            for i, r in zip(idx, pickle.loads(res)):
                out[i] = r
        return out
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
            for f in (p.stdin, p.stdout):
                try:
                    f.close()
                except OSError:
                    pass


def _dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _table_digest(table_dir):
    return _digest(read_table(table_dir))


def check(expected, warehouse):
    """Compare one expected state (Model.digest) with a warehouse
    directory; returns a list of mismatch descriptions (empty when equal)."""
    problems = []
    present = [n for n in sorted(expected) if os.path.isdir(os.path.join(warehouse, n))]
    got = dict(zip(present, _map(_table_digest, [os.path.join(warehouse, n) for n in present],
                                  weight=_dir_bytes)))
    for name, exp in sorted(expected.items()):
        if name not in got:
            if exp["rows"]:
                problems.append(f"{name}: table missing, expected {exp['rows']} rows")
            continue
        g = got[name]
        if g["rows"] != exp["rows"] or g["sha256"] != exp["sha256"]:
            extra = sorted(set(g["canon"]) - set(exp["canon"]))[:1]
            missing = sorted(set(exp["canon"]) - set(g["canon"]))[:1]
            problems.append(f"{name}: rows {g['rows']} vs expected {exp['rows']}; "
                            f"unexpected {extra} missing {missing}")
    return problems


if __name__ == "__main__" and sys.argv[1:2] == ["--worker"]:
    _fn = {"_digest": _digest, "_table_digest": _table_digest}[sys.argv[2]]
    _items = pickle.load(sys.stdin.buffer)
    pickle.dump([_fn(x) for x in _items], sys.stdout.buffer)
