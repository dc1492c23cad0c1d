"""Seeded HR change-event generator and its independent outcome model.

Both CDC workloads draw their input from ``generate``: Debezium-JSON
envelopes for the five default source tables, mixed in the proportions of
the reference's daily volumes (attendance far ahead of employee changes,
salary changes counted with them, then leave, then departments), with

* Zipf-skewed employee keys,
* ~1% verbatim redeliveries 0.5-3 s after the original (inside the
  broker's 120 s dedup window),
* ~0.5% payloads that break a registered event contract (an attendance
  record without its date, a salary change without its new salary),
* a few employee deletes.

The outcome model is written from the reference's rule definitions, not
from the engine's code: for every source event it derives the domain
events the transformer must store (with their deterministic ids), the
dead-letter rows, the dedup drops and the last-write-wins state of every
table.  The benchmark compares the engine's outputs with it.

Run as a script, this module is the live workload's generator process: it
renames pre-serialized JSON-lines files from a staging directory into the
change log on a fixed schedule and records how late each rename was.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys
import time
from dataclasses import dataclass, field

DB = "hrdb"
TABLES = ("attendance_records", "employees", "salary_changes",
          "leave_requests", "departments")
# change events per table, in the proportions of the reference's daily
# volumes (docs/system-design.md:334-339): ~50,000 attendance, ~1,000
# employee (salary changes counted in it; the reference gives no split,
# so it is halved between the two tables), ~500 leave, ~100 org
TABLE_MIX = (("attendance_records", 50_000), ("employees", 500),
             ("salary_changes", 500), ("leave_requests", 500),
             ("departments", 100))
REDELIVERY_RATE = 0.01
REDELIVERY_DELAY_MS = (500, 3000)
VIOLATION_RATE = {"attendance_records": 0.005, "salary_changes": 0.02}
EMPLOYEE_DELETE_RATE = 0.01  # of employee change events
ZIPF_A = 1.2

# snapshot sizes: the rows each table holds before the change stream starts
SNAPSHOT_ROWS = {"employees": 5000, "departments": 100, "leave_requests": 1000,
                 "salary_changes": 500, "attendance_records": 2000}
SNAPSHOT_AGE_MS = 60_000
DATE_BASE_S = 1_767_225_600  # 2026-01-01, anchor of generated row dates

POSITIONS = ("IC1", "IC2", "IC3", "IC4", "IC5")
FIRST = ("Ada", "Ben", "Chen", "Dana", "Eli", "Fay", "Gus", "Hana", "Ivan",
         "Jo", "Kai", "Lena", "Mo", "Nia", "Omar", "Pia")
LAST = ("Smith", "Lee", "Garcia", "Kim", "Novak", "Rossi", "Sato", "Okoye",
        "Berg", "Silva")
LEAVE_TYPES = ("vacation", "sick", "parental", "unpaid")
ATTENDANCE_STATUS = ("present", "late", "remote", "absent")


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def change_key(table: str, op: str, ts_ms: int, pk: int) -> str:
    return _md5(f"{table}|{op}|{ts_ms}|{pk}")


def event_id(event_type: str, aggregate_id: int, ts_ms: int, ck: str) -> str:
    return _md5(f"{event_type}|{aggregate_id}|{ts_ms}|{ck}")


def envelope(table: str, op: str, before, after, ts_ms: int) -> dict:
    return {"payload": {
        "before": before, "after": after,
        "source": {"version": "2.5.0", "connector": "mysql", "name": "hcm",
                   "ts_ms": ts_ms, "db": DB, "table": table},
        "op": op, "ts_ms": ts_ms}}


# ---------------------------------------------------------------- model --

def domain_events(table: str, op: str, before, after) -> list[tuple[str, int]]:
    """(event_type, aggregate_id) the reference's rules emit for one change
    (docs/design.md:250-275, docs/system-design.md:213-227).  Compared
    fields are never NULL in generated rows except ``manager_id`` and
    ``parent_department_id``, whose comparison is NULL-safe."""
    if table == "employees":
        if op == "c":
            return [("EmployeeHired", after["id"])]
        if op != "u":
            return []
        b, a = before, after
        promoted = (b["position_id"] != a["position_id"]
                    and a["salary"] > b["salary"] and a["status"] == "active")
        terminated = b["status"] == "active" and a["status"] == "terminated"
        transferred = (b["department_id"] != a["department_id"]
                       and b["position_id"] == a["position_id"])
        manager = b["manager_id"] != a["manager_id"]
        out = [t for t, hit in (("EmployeePromoted", promoted),
                                ("EmployeeTerminated", terminated),
                                ("EmployeeTransferred", transferred),
                                ("ManagerAssigned", manager)) if hit]
        return [(t, a["id"]) for t in out or ["EmployeeDataUpdated"]]
    if table == "departments":
        if op == "c":
            return [("DepartmentCreated", after["id"])]
        if op == "u" and (before["parent_department_id"]
                          != after["parent_department_id"]):
            return [("DepartmentRestructured", after["id"])]
        return []
    if table == "salary_changes":
        return [("SalaryAdjusted", after["employee_id"])] if op == "c" else []
    if table == "leave_requests":
        if op == "c":
            return [("LeaveRequested", after["employee_id"])]
        if (op == "u" and after["status"] == "approved"
                and before["status"] != "approved"):
            return [("LeaveApproved", after["employee_id"])]
        return []
    if table == "attendance_records":
        return [("AttendanceMarked", after["employee_id"])] if op == "c" else []
    raise ValueError(table)


def violates_contract(event_type: str, after) -> bool:
    """Required payload fields of the v1 contracts that generated rows can
    leave empty (the rest are always filled)."""
    if event_type == "AttendanceMarked":
        return after["attendance_date"] is None
    if event_type == "SalaryAdjusted":
        return after["new_salary"] is None
    return False


@dataclass
class Outcome:
    """What a correct pipeline must leave behind for one generated log."""
    events: dict = field(default_factory=dict)   # event_id -> (type, agg, ts_ms)
    dlq: dict = field(default_factory=dict)      # event_id -> type
    redeliveries: int = 0
    source_events: int = 0                       # distinct changes, no redeliveries
    state: dict = field(default_factory=dict)    # table -> {pk: row or None}

    def apply(self, table: str, op: str, before, after, ts_ms: int) -> None:
        self.source_events += 1
        pk = (after or before)["id"]
        ck = change_key(table, op, ts_ms, pk)
        for etype, agg in domain_events(table, op, before, after):
            eid = event_id(etype, agg, ts_ms, ck)
            if violates_contract(etype, after):
                self.dlq[eid] = etype
            else:
                self.events[eid] = (etype, agg, ts_ms)
        self.state.setdefault(table, {})[pk] = None if op == "d" else after

    def live_rows(self, table: str) -> dict:
        return {k: v for k, v in self.state.get(table, {}).items()
                if v is not None}

    def by_aggregate(self) -> dict:
        out: dict = {}
        for eid, (_, agg, _) in self.events.items():
            out.setdefault(agg, set()).add(eid)
        return out


# ------------------------------------------------------------ generator --

@dataclass
class Generated:
    snapshot: dict          # table -> [row]
    snapshot_ts_ms: int
    lines: list             # (due_ms, json line), sorted by due time
    outcome: Outcome


class _Gen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.rows: dict = {t: {} for t in TABLES}
        self.next_id = {t: 1 for t in TABLES}
        self.emp_pool: list = []       # live employee ids, Zipf rank order
        self.pending_leave: list = []
        self.last_ts: dict = {t: {} for t in TABLES}

    def new_id(self, table: str) -> int:
        i = self.next_id[table]
        self.next_id[table] += 1
        return i

    def date(self, lo_days: int, hi_days: int) -> str:
        d = time.gmtime(DATE_BASE_S - 86400 * self.rng.randint(lo_days, hi_days))
        return f"{d.tm_year:04d}-{d.tm_mon:02d}-{d.tm_mday:02d}"

    def employee_row(self, eid: int) -> dict:
        r = self.rng
        first, last = r.choice(FIRST), r.choice(LAST)
        return {"id": eid, "employee_number": f"EMP{eid:06d}",
                "first_name": first, "last_name": last,
                "email": f"{first}.{last}{eid}@company.com".lower(),
                "position_id": r.choice(POSITIONS[:4]),
                "department_id": r.randint(1, SNAPSHOT_ROWS["departments"]),
                "manager_id": r.choice([None] + self.emp_pool[:50]),
                "salary": float(r.randrange(60_000, 200_000, 500)),
                "hire_date": self.date(30, 3000), "status": "active"}

    def zipf_employee(self, ts_ms: int, table: str | None = None) -> int | None:
        """A Zipf-ranked live employee whose row has no change at ``ts_ms``
        yet (keeps each table's (key, ts_ms) unique, so event ids and the
        last-write-wins order are unambiguous)."""
        for _ in range(20):
            rank = (int(self.rng.paretovariate(ZIPF_A)) - 1) % len(self.emp_pool)
            eid = self.emp_pool[rank]
            if table is None or self.last_ts[table].get(eid) != ts_ms:
                return eid
        return None

    def snapshot(self) -> dict:
        snap: dict = {t: [] for t in TABLES}
        for _ in range(SNAPSHOT_ROWS["departments"]):
            i = self.new_id("departments")
            snap["departments"].append({"id": i, "name": f"Dept {i}",
                                        "parent_department_id": None,
                                        "manager_id": None})
        for _ in range(SNAPSHOT_ROWS["employees"]):
            i = self.new_id("employees")
            snap["employees"].append(self.employee_row(i))
            self.emp_pool.append(i)
        for _ in range(SNAPSHOT_ROWS["leave_requests"]):
            snap["leave_requests"].append(self.leave_row(0))
        for _ in range(SNAPSHOT_ROWS["salary_changes"]):
            snap["salary_changes"].append(self.salary_row(0, False))
        for _ in range(SNAPSHOT_ROWS["attendance_records"]):
            snap["attendance_records"].append(self.attendance_row(0, False))
        for t, rows in snap.items():
            for row in rows:
                self.rows[t][row["id"]] = row
        self.pending_leave = [r["id"] for r in snap["leave_requests"]]
        return snap

    def leave_row(self, ts_ms: int) -> dict:
        return {"id": self.new_id("leave_requests"),
                "employee_id": self.zipf_employee(ts_ms) or self.emp_pool[0],
                "leave_type": self.rng.choice(LEAVE_TYPES),
                "start_date": self.date(-30, -1), "end_date": self.date(-60, -31),
                "status": "pending", "approved_by": None, "reason": "planned"}

    def salary_row(self, ts_ms: int, violate: bool) -> dict:
        old = float(self.rng.randrange(60_000, 200_000, 500))
        return {"id": self.new_id("salary_changes"),
                "employee_id": self.zipf_employee(ts_ms) or self.emp_pool[0],
                "old_salary": old,
                "new_salary": None if violate else old + 2500.0,
                "reason": "review", "effective_date": self.date(0, 30),
                "approved_by": self.emp_pool[0]}

    def attendance_row(self, ts_ms: int, violate: bool) -> dict:
        cin = self.rng.randint(7 * 3600, 10 * 3600)
        return {"id": self.new_id("attendance_records"),
                "employee_id": self.zipf_employee(ts_ms) or self.emp_pool[0],
                "attendance_date": None if violate else self.date(0, 5),
                "check_in_time": cin, "check_out_time": cin + 8 * 3600,
                "status": self.rng.choice(ATTENDANCE_STATUS), "notes": None}

    # one change per call: (table, op, before, after) or None to skip
    def change(self, table: str, ts_ms: int):
        r = self.rng
        if table == "attendance_records":
            return "c", None, self.attendance_row(
                ts_ms, r.random() < VIOLATION_RATE[table])
        if table == "salary_changes":
            return "c", None, self.salary_row(
                ts_ms, r.random() < VIOLATION_RATE[table])
        if table == "leave_requests":
            x = r.random()
            if x < 0.7 or not self.pending_leave:
                row = self.leave_row(ts_ms)
                self.pending_leave.append(row["id"])
                return "c", None, row
            j = r.randrange(len(self.pending_leave))
            lid = self.pending_leave[j]
            if self.last_ts[table].get(lid) == ts_ms:
                return None
            self.pending_leave.pop(j)
            before = self.rows[table][lid]
            status = "approved" if x < 0.9 else "rejected"
            return "u", before, {**before, "status": status,
                                 "approved_by": self.emp_pool[0]}
        if table == "departments":
            x = r.random()
            if x < 0.4:
                i = self.new_id(table)
                return "c", None, {"id": i, "name": f"Dept {i}",
                                   "parent_department_id": r.randint(1, 10),
                                   "manager_id": None}
            did = r.randint(1, self.next_id[table] - 1)
            if self.last_ts[table].get(did) == ts_ms:
                return None
            before = self.rows[table][did]
            if x < 0.8:
                return "u", before, {**before, "parent_department_id":
                                     r.choice([None, r.randint(1, 10)])}
            return "u", before, {**before, "name": f"Dept {did} v{r.randint(2, 99)}"}
        # employees
        x = r.random()
        if x < 0.08:
            i = self.new_id(table)
            self.emp_pool.append(i)
            return "c", None, self.employee_row(i)
        eid = self.zipf_employee(ts_ms, table)
        if eid is None:
            return None
        before = self.rows[table][eid]
        if x < 0.08 + EMPLOYEE_DELETE_RATE:
            self.emp_pool.remove(eid)
            return "d", before, None
        kind = r.random()
        after = dict(before)
        pos = POSITIONS.index(before["position_id"])
        if kind < 0.15 and pos < len(POSITIONS) - 1:
            after["position_id"] = POSITIONS[pos + 1]
            after["salary"] = before["salary"] + 10_000.0
        elif kind < 0.30:
            after["department_id"] = r.randint(1, SNAPSHOT_ROWS["departments"])
        elif kind < 0.45:
            after["manager_id"] = r.choice([None] + self.emp_pool[:50])
        elif kind < 0.50 and before["status"] == "active":
            after["status"] = "terminated"
        elif kind < 0.60:
            after["email"] = f"e{eid}.{r.randint(0, 999)}@company.com"
        else:
            after["salary"] = before["salary"] + 500.0
        return "u", before, after


class Generator:
    """The snapshot is drawn first and does not depend on when the stream
    starts, so a run can load it before it fixes the stream's start time."""

    def __init__(self, seed: int):
        self._g = _Gen(seed)
        self.snapshot = self._g.snapshot()

    def stream(self, n_events: int, t0_ms: int, rate: float,
               snapshot_ts_ms: int | None = None) -> Generated:
        """``n_events`` source changes at ``rate`` per second from ``t0_ms``
        (each stamped ``ts_ms`` = its due time), plus redeliveries."""
        g = self._g
        snap_ts = (t0_ms - SNAPSHOT_AGE_MS if snapshot_ts_ms is None
                   else snapshot_ts_ms)
        outcome = Outcome()
        for t, rows in self.snapshot.items():
            for row in rows:
                outcome.apply(t, "r", None, row, snap_ts)
        outcome.source_events = 0
        names = [t for t, _ in TABLE_MIX]
        weights = [w for _, w in TABLE_MIX]
        step = 1000.0 / rate
        end_ms = n_events * step
        lines: list = []
        for i in range(n_events):
            due = i * step
            ts = t0_ms + int(due)
            table = g.rng.choices(names, weights)[0]
            ch = g.change(table, ts)
            if ch is None:
                continue
            op, before, after = ch
            row = after or before
            g.last_ts[table][row["id"]] = ts
            if after is not None:
                g.rows[table][row["id"]] = after
            outcome.apply(table, op, before, after, ts)
            line = json.dumps(envelope(table, op, before, after, ts),
                              separators=(",", ":"))
            lines.append((due, line))
            if g.rng.random() < REDELIVERY_RATE:
                again = due + g.rng.uniform(*REDELIVERY_DELAY_MS)
                if again < end_ms:
                    lines.append((again, line))
                    outcome.redeliveries += 1
        lines.sort(key=lambda x: x[0])
        return Generated(self.snapshot, snap_ts, lines, outcome)


def generate(seed: int, n_events: int, t0_ms: int, rate: float) -> Generated:
    return Generator(seed).stream(n_events, t0_ms, rate)


def snapshot_lines(snapshot: dict, ts_ms: int, table: str) -> list[str]:
    return [json.dumps(envelope(table, "r", None, row, ts_ms),
                       separators=(",", ":"))
            for row in snapshot[table]]


def write_files(lines: list, directory: str, period_ms: float) -> None:
    """Group ``(due_ms, line)`` into one JSON-lines file per ``period_ms``
    window: file k holds the events due in [k*period, (k+1)*period)."""
    os.makedirs(directory, exist_ok=True)
    files: dict = {}
    for due, line in lines:
        files.setdefault(int(due // period_ms), []).append(line)
    for k, chunk in files.items():
        with open(os.path.join(directory, f"chunk-{k:05d}.json"), "w") as f:
            f.write("\n".join(chunk) + "\n")


def publish(stage: str, log_dir: str, t0_s: float, period_s: float,
            report: str) -> None:
    """Rename staged file k into the log at ``t0 + (k+1)*period`` (when its
    last event is due); write each rename's wall time and lateness."""
    names = sorted(n for n in os.listdir(stage) if n.startswith("chunk-"))
    done = []
    for name in names:
        k = int(name[6:11])
        due = t0_s + (k + 1) * period_s
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(stage, name), os.path.join(log_dir, name))
        now = time.time()
        done.append({"file": name, "at": now, "late_ms": (now - due) * 1000})
    tmp = report + ".tmp"
    with open(tmp, "w") as f:
        json.dump(done, f)
    os.replace(tmp, report)


if __name__ == "__main__":
    # python3 cdcgen.py STAGE LOG_DIR T0_S PERIOD_S REPORT
    publish(sys.argv[1], sys.argv[2], float(sys.argv[3]), float(sys.argv[4]),
            sys.argv[5])
