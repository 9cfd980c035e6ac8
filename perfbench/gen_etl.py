"""Seeded generator for the etl_batches workload's inputs.

Writes reference-shaped batches (FIXTURES.md section A) for
`graft.Pipeline.run`: per batch an `events.jsonl`, a `users.csv` and an
`intl_sales.jsonl`, plus `expected.json` with the RunReport counts the
pipeline must produce for that batch when the batches are loaded in order
into one empty warehouse.

The events carry the section A edge-case mix: invalid event types,
variant spellings of valid ones, nullish user ids, `BAD_TIME` timestamps,
malformed JSON and missing-field lines, in-batch duplicate ids with
differing ts, and, from the second batch on, ids re-sent from earlier
batches. Intl sales carry duplicate `sale_id`s within and across batches.
Users are unique per file; some event users are absent from it.

The same arguments give byte-identical files. run.py calls `generate`
with the sizes in its `ETL` setting; there is no other entry point.
"""
import json
import os
import random

VALID = ["pageview", "signup", "purchase"]
VARIANTS = {"pageview": ["page_view", "Page View", "page view", "PageView",
                         "view", " page-view "],
            "signup": ["Signup", " SIGNUP "],
            "purchase": ["Purchase", "PURCHASE "]}
INVALID = ["click", "logout", "refund_requested"]
NULLISH = [None, "", "nan", "None", "<NA>"]
COUNTRIES = ["US", "IN", "DE", "BR", "JP", "GB", ""]
SOURCES = ["ads", "organic", "referral", "email", ""]


def _dump(obj):
    return json.dumps(obj, separators=(", ", ": "))


def _ts(rng):
    """A second in March 2024, ISO-8601 UTC."""
    return (f"2024-03-{1 + rng.randrange(30):02d}T{rng.randrange(24):02d}:"
            f"{rng.randrange(60):02d}:{rng.randrange(60):02d}Z")


class Batches:
    def __init__(self, seed, n_users):
        self.rng = random.Random(seed)
        self.n_users = n_users
        self.next_event = 0
        self.next_sale = 0
        self.loaded_events = []    # ids that reached fact_events, in order
        self.loaded_set = set()
        self.sales = []            # sale ids loaded so far
        self.sales_set = set()

    def _user(self):
        rng = self.rng
        if rng.random() < 0.05:
            return rng.choice(NULLISH)
        # ~5% of event users are absent from users.csv
        return f"u{rng.randrange(int(self.n_users * 1.05)):06d}"

    def _valid_row(self, eid):
        rng = self.rng
        canon = rng.choice(VALID)
        name = rng.choice(VARIANTS[canon]) if rng.random() < 0.3 else canon
        row = {"event_id": eid, "ts": _ts(rng), "event": name,
               "user_id": self._user()}
        if canon == "purchase":
            amt = round(rng.uniform(1.0, 500.0), 2)
            roll = rng.random()
            row["amount"] = (amt if roll < 0.6 else f"{amt}" if roll < 0.95
                             else "n/a")
        elif canon == "pageview":
            row["page"] = f"/p/{rng.randrange(50)}"
        return row

    def events(self, n, resend):
        """Returns (lines, expected counts of this batch)."""
        rng = self.rng
        lines = []
        kept = {}            # event_id -> user of the kept row
        rows_in = invalid = bad_ingest = 0
        batch_ids = []
        for _ in range(n):
            roll = rng.random()
            if roll < 0.003:
                lines.append(rng.choice([
                    '{"event_id": "broken", "ts": "2024-03-0',
                    "not json at all", '{"event_id": }']))
                bad_ingest += 1
                continue
            if roll < 0.006:
                row = {"event_id": f"e{self.next_event:09d}",
                       "event": "signup"}
                self.next_event += 1
                if rng.random() < 0.5:
                    row = {"event_id": row["event_id"], "ts": _ts(rng)}
                lines.append(_dump(row))
                bad_ingest += 1
                continue
            if roll < 0.011:
                lines.append(_dump({"event_id": f"e{self.next_event:09d}",
                                    "ts": "BAD_TIME", "event": "signup",
                                    "user_id": "u000001"}))
                self.next_event += 1
                bad_ingest += 1
                continue
            if roll < 0.111:
                row = {"event_id": f"e{self.next_event:09d}", "ts": _ts(rng),
                       "event": rng.choice(INVALID), "user_id": self._user()}
                self.next_event += 1
                lines.append(_dump(row))
                rows_in += 1
                invalid += 1
                continue
            if batch_ids and roll < 0.121:
                # in-batch duplicate: same id and user, another ts
                eid = rng.choice(batch_ids)
                row = {"event_id": eid, "ts": _ts(rng), "event": "signup",
                       "user_id": kept[eid]}
            elif self.loaded_events and roll < 0.121 + resend:
                eid = self.loaded_events[rng.randrange(len(self.loaded_events))]
                if eid in kept:
                    eid = f"e{self.next_event:09d}"
                    self.next_event += 1
                row = self._valid_row(eid)
            else:
                row = self._valid_row(f"e{self.next_event:09d}")
                self.next_event += 1
            if row["event_id"] not in kept:
                batch_ids.append(row["event_id"])
                kept[row["event_id"]] = row["user_id"]
            lines.append(_dump(row))
            rows_in += 1
        for eid in batch_ids:
            if eid not in self.loaded_set:
                self.loaded_set.add(eid)
                self.loaded_events.append(eid)
        users = [u.strip() for u in kept.values()
                 if u is not None and u.strip() not in ("", "nan", "None", "<NA>")]
        return lines, {
            "rows_in": rows_in,
            "rows_out": len(kept),
            "invalid_event_type": invalid,
            "null_user_rows": len(kept) - len(users),
            "distinct_users": len(set(users)),
            "bad_records_total": bad_ingest + invalid,
            "fact_events_rows": len(self.loaded_set)}

    def users_csv(self):
        rng = self.rng
        out = ["user_id,country,signup_source"]
        for u in range(self.n_users):
            out.append(f"u{u:06d},{rng.choice(COUNTRIES)},{rng.choice(SOURCES)}")
        return out

    def intl(self, n, resend):
        rng = self.rng
        lines = []
        batch = []
        for _ in range(n):
            roll = rng.random()
            if batch and roll < 0.05:
                sid = rng.choice(batch)
            elif self.sales and roll < 0.05 + resend:
                sid = self.sales[rng.randrange(len(self.sales))]
            else:
                sid = f"s{self.next_sale:09d}"
                self.next_sale += 1
            batch.append(sid)
            day = f"2022-{1 + rng.randrange(12):02d}-{1 + rng.randrange(28):02d}"
            pcs = 1 + rng.randrange(5)
            rate = round(rng.uniform(100.0, 2000.0), 2)
            lines.append(_dump({
                "sale_id": sid,
                "ts": f"{day}T{rng.randrange(24):02d}:{rng.randrange(60):02d}:00Z",
                "date_key": day, "customer": f"CUST{rng.randrange(300):04d}",
                "sku": f"SKU-{rng.randrange(400):04d}", "pcs": pcs,
                "rate": rate, "gross_amt": round(pcs * rate, 2),
                "currency": "INR", "source_dataset": "intl_sales"}))
        for sid in batch:
            if sid not in self.sales_set:
                self.sales_set.add(sid)
                self.sales.append(sid)
        return lines, {"intl_sales_rows": len(self.sales_set)}


def _write_lines(path, lines):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(lines) + "\n")


def generate(out, seed, batches, events, users, intl, resend):
    """Writes batch_1..batch_N under `out`; returns their descriptions."""
    gen = Batches(seed, users)
    result = []
    for b in range(1, batches + 1):
        d = os.path.join(out, f"batch_{b}")
        os.makedirs(d, exist_ok=True)
        ev_lines, expected = gen.events(events, resend if b > 1 else 0.0)
        in_lines, in_expected = gen.intl(intl, resend if b > 1 else 0.0)
        expected.update(in_expected)
        paths = {"events": os.path.join(d, "events.jsonl"),
                 "users": os.path.join(d, "users.csv"),
                 "intl": os.path.join(d, "intl_sales.jsonl")}
        _write_lines(paths["events"], ev_lines)
        _write_lines(paths["users"], gen.users_csv())
        _write_lines(paths["intl"], in_lines)
        with open(os.path.join(d, "expected.json"), "w") as f:
            json.dump(expected, f, sort_keys=True)
        result.append({**paths, "expected": expected})
    return result

