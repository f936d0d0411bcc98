"""Seeded input generator for every benchmark workload.

Everything a workload feeds the program comes from here: webhook JSONL
increments, the REST page server behind the backfill, the dashboard
slicer sequence, the open-loop push schedule and ``documents.parquet``
for curation. The same seed gives byte-identical inputs; ground-truth
counts (unique valid ids, quarantined lines, planted duplicates) come
from the generator, never from the program under test.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

ACCOUNTS = ("office_a", "office_b", "office_c")
FOREIGN_ACCOUNT = "office_z"  # not on the program's whitelist
STEPS = ("Referidos", "Asesorados", "Ingresados", "Autorizados", "Firmados")
REJECTED = "Rechazados"
UNHANDLED_EVENTS = ("lead.archived", "note.created")
N_AGENTS = 40
ZIPF_S = 1.1
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
N_MONTHS = 24
FOLDER_ID_BASE = 50_000_000
BACKFILL_ID_BASE = 20_000_000
FLAKY_SHARE = 0.1  # REST pages that fail their first attempt
DUP_SHARE = 0.08  # documents that repeat an earlier text exactly
NEAR_SHARE = 0.08  # documents that repeat one with a single word changed

# share of lines per kind in a webhook increment; the remainder creates
# new leads
MIX = {
    "corrupt": 0.01,
    "dup": 0.02,
    "foreign": 0.02,
    "unhandled": 0.02,
    "delete": 0.03,
    "folder": 0.04,
    "update": 0.36,
}


def agent_email(k: int) -> str:
    return f"agent{k:02d}@crm.example"


def _zipf_cum(n: int, s: float) -> list[float]:
    w = [1.0 / (k + 1) ** s for k in range(n)]
    total = sum(w)
    out, acc = [], 0.0
    for x in w:
        acc += x / total
        out.append(acc)
    return out


_AGENT_CUM = _zipf_cum(N_AGENTS, ZIPF_S)


def zipf_agent(rng: random.Random) -> int:
    u = rng.random()
    for k, c in enumerate(_AGENT_CUM):
        if u <= c:
            return k
    return N_AGENTS - 1


def iso_us(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def month_start(i: int) -> datetime:
    y, m = divmod(i, 12)
    return datetime(EPOCH.year + y, m + 1, 1, tzinfo=timezone.utc)


@dataclass
class IncrementTruth:
    """Ground truth of one webhook JSONL increment."""

    lines: int = 0
    corrupt: int = 0
    foreign: int = 0
    dups: int = 0
    # distinct event ids on parseable, whitelisted lines: what one
    # ingest batch must write to silver
    valid_unique: int = 0


@dataclass
class CrmGen:
    """A seeded CRM world that emits webhook increments. Leads are
    created, moved through the funnel, rejected, deleted; agents are
    Zipf-skewed; event ids grow monotonically so last-write-wins order
    within one ingest batch is the event-id order."""

    seed: int
    rng: random.Random = field(init=False)
    next_event: int = 1
    next_lead: int = 1
    next_folder: int = 1
    leads: dict = field(default_factory=dict)  # lead_id -> payload

    def __post_init__(self) -> None:
        self.rng = random.Random(f"crm:{self.seed}")

    def _new_lead(self) -> tuple[str, dict]:
        r = self.rng
        lid = self.next_lead
        self.next_lead += 1
        created = EPOCH + timedelta(
            seconds=r.randrange(N_MONTHS * 30 * 86400), microseconds=r.randrange(10**6)
        )
        payload = {
            "id": lid,
            "title": f"Lead {lid}",
            "pipeline": "Ventas",
            "step": STEPS[0],
            "step_id": 0,
            "status": "open",
            "amount": round(r.uniform(10_000, 900_000), 2),
            "created_at": iso_us(created),
            "updated_at": iso_us(created),
            "user": {"email": agent_email(zipf_agent(r))},
            "client_folder": {"id": r.randrange(1, 5000), "name": f"folder-{lid}"},
            "tags": ["web"] if r.random() < 0.5 else [],
        }
        account = ACCOUNTS[r.randrange(len(ACCOUNTS))]
        self.leads[lid] = (account, payload)
        return account, payload

    def _advance(self, payload: dict) -> dict:
        r = self.rng
        p = dict(payload)
        if p["step"] in STEPS[:-1] and r.random() < 0.9:
            i = STEPS.index(p["step"]) + 1
            p["step"], p["step_id"] = STEPS[i], i
        else:
            p["step"], p["step_id"] = REJECTED, 9
        if r.random() < 0.3:
            p["amount"] = round(p["amount"] * r.uniform(0.8, 1.2), 2)
        upd = datetime.strptime(p["updated_at"], "%Y-%m-%dT%H:%M:%S.%fZ")
        p["updated_at"] = iso_us(upd + timedelta(seconds=r.randrange(60, 30 * 86400)))
        return p

    def _pick_lead(self) -> int | None:
        if not self.leads:
            return None
        # recent leads are the ones agents work on
        lo = max(1, self.next_lead - 5000)
        for _ in range(8):
            lid = self.rng.randrange(lo, self.next_lead)
            if lid in self.leads:
                return lid
        return None

    def _line(self, account: str, event: str, data: dict) -> str:
        eid = self.next_event
        self.next_event += 1
        env = {
            "id": eid,
            "event": event,
            "signature": hashlib.md5(f"{self.seed}:{eid}".encode()).hexdigest(),
            "has_succeeded": True,
            "try_count": 1,
            "last_returned_code": 200,
            "data": data,
        }
        return json.dumps(
            {"account": account, "webhook_event": env}, separators=(",", ":")
        )

    def event_line(self) -> str:
        """One valid whitelisted event as a JSON line."""
        r = self.rng
        u = r.random()
        lid = self._pick_lead()
        if lid is not None and u < MIX["delete"]:
            account, payload = self.leads.pop(lid)
            return self._line(account, "lead.deleted", payload)
        u -= MIX["delete"]
        if u < MIX["folder"]:
            fid = FOLDER_ID_BASE + self.next_folder
            self.next_folder += 1
            data = {"id": fid, "client_folder": {"id": fid, "name": f"folder-{fid}"}}
            return self._line(
                ACCOUNTS[r.randrange(len(ACCOUNTS))], "client_folder.created", data
            )
        u -= MIX["folder"]
        if lid is not None and u < MIX["unhandled"]:
            account, payload = self.leads[lid]
            return self._line(
                account, UNHANDLED_EVENTS[r.randrange(len(UNHANDLED_EVENTS))], payload
            )
        u -= MIX["unhandled"]
        if lid is not None and u < MIX["update"]:
            account, payload = self.leads[lid]
            payload = self._advance(payload)
            self.leads[lid] = (account, payload)
            return self._line(account, "lead.step.changed", payload)
        account, payload = self._new_lead()
        return self._line(account, "lead.creation", payload)

    def increment(self, n: int) -> tuple[list[str], IncrementTruth]:
        """``n`` JSONL lines with retried duplicates, corrupt lines and
        foreign accounts mixed in, plus their ground truth."""
        r = self.rng
        lines: list[str] = []
        valid: list[str] = []
        truth = IncrementTruth()
        for _ in range(n):
            u = r.random()
            if u < MIX["corrupt"]:
                full = self.event_line()
                lines.append(full[: r.randrange(10, len(full) - 1)])
                truth.corrupt += 1
                continue
            u -= MIX["corrupt"]
            if valid and u < MIX["dup"]:
                lines.append(valid[r.randrange(len(valid))])
                truth.dups += 1
                continue
            u -= MIX["dup"]
            if u < MIX["foreign"]:
                obj = json.loads(self.event_line())
                obj["account"] = FOREIGN_ACCOUNT
                lines.append(json.dumps(obj, separators=(",", ":")))
                truth.foreign += 1
                continue
            line = self.event_line()
            lines.append(line)
            valid.append(line)
        truth.lines = len(lines)
        truth.valid_unique = len(valid)
        return lines, truth


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


@dataclass(frozen=True)
class PageServer:
    """In-process seeded CRM REST API: ``page(account, limit, offset)``
    pages through ``per_account`` historical leads of each account.
    Records are derived from (seed, account, index) alone, so the object
    pickles small and every Spark task sees the same pages.
    ``is_flaky`` marks about ``FLAKY_SHARE`` of the pages, which the
    benchmark's transport fails once before answering, for the retry
    wrapper to absorb. The first ``overlap`` indices per account reuse
    live lead ids, so the backfill merge has real conflicts to
    resolve."""

    seed: int
    per_account: int
    overlap: int

    def lead_id(self, account: str, idx: int) -> int:
        a = ACCOUNTS.index(account)
        if idx < self.overlap:
            return 1 + idx * len(ACCOUNTS) + a
        return BACKFILL_ID_BASE + idx * len(ACCOUNTS) + a

    def record(self, account: str, idx: int) -> dict:
        r = random.Random(f"rest:{self.seed}:{account}:{idx}")
        created = EPOCH + timedelta(seconds=r.randrange(N_MONTHS * 30 * 86400))
        step = STEPS[r.randrange(len(STEPS))] if r.random() < 0.9 else REJECTED
        lid = self.lead_id(account, idx)
        return {
            "id": lid,
            "title": f"Historic {lid}",
            "pipeline": "Ventas",
            "step": step,
            "step_id": STEPS.index(step) if step in STEPS else 9,
            "status": "open",
            "amount": round(r.uniform(10_000, 900_000), 2),
            "created_at": iso_us(created),
            "updated_at": iso_us(created + timedelta(days=r.randrange(1, 90))),
            "user": {"email": agent_email(zipf_agent(r))},
            "client_folder": {"id": r.randrange(1, 5000), "name": f"folder-h{lid}"},
            "tags": ["import"],
        }

    def is_flaky(self, account: str, offset: int) -> bool:
        h = hashlib.md5(f"flaky:{self.seed}:{account}:{offset}".encode()).digest()
        return h[0] < 256 * FLAKY_SHARE

    def page(self, account: str, limit: int, offset: int) -> list[dict]:
        hi = min(offset + limit, self.per_account)
        return [self.record(account, i) for i in range(offset, hi)]

    def lead_ids(self) -> set[int]:
        return {
            self.lead_id(a, i) for a in ACCOUNTS for i in range(self.per_account)
        }

    def expected_retries(self, page_size: int) -> int:
        return sum(
            self.is_flaky(a, off)
            for a in ACCOUNTS
            for off in range(0, self.per_account, page_size)
        )


@dataclass(frozen=True)
class Slicer:
    """One dashboard view's slicer: account, optional agent, and an
    inclusive created-month range (month indices from ``EPOCH``)."""

    account: str
    agent: str | None
    month_lo: int
    month_hi: int

    def bounds(self) -> tuple[datetime, datetime]:
        return month_start(self.month_lo), month_start(self.month_hi + 1)


def slicers(seed: int, n: int) -> list[Slicer]:
    r = random.Random(f"slicer:{seed}")
    out = []
    for _ in range(n):
        lo = r.randrange(N_MONTHS)
        hi = min(N_MONTHS - 1, lo + r.randrange(12))
        agent = agent_email(zipf_agent(r)) if r.random() < 0.5 else None
        out.append(Slicer(ACCOUNTS[r.randrange(len(ACCOUNTS))], agent, lo, hi))
    return out


def push_schedule(
    seed: int, rates: tuple[int, ...], phase_s: float
) -> list[tuple[float, int, str]]:
    """Open-loop send schedule: ``(due offset s, rate, account)`` for
    each event, ``phase_s`` seconds at each fixed rate in turn. Sends
    are evenly spaced with a seeded phase jitter below one gap, so the
    schedule does not slow when the system does."""
    r = random.Random(f"push:{seed}")
    out = []
    t0 = 0.0
    for rate in rates:
        gap = 1.0 / rate
        n = int(round(rate * phase_s))
        for i in range(n):
            out.append((t0 + i * gap + r.random() * gap * 0.5, rate, ACCOUNTS[r.randrange(3)]))
        t0 += phase_s
    return out


def push_body(seed: int, event_id: int, due_us: int) -> dict:
    """One pushed webhook body. The due time rides in ``data.description``,
    which the envelope schema keeps, so it survives into silver's
    ``raw_data``."""
    r = random.Random(f"pushbody:{seed}:{event_id}")
    created = EPOCH + timedelta(seconds=r.randrange(N_MONTHS * 30 * 86400))
    return {
        "webhook_event": {
            "id": event_id,
            "event": "lead.creation",
            "signature": hashlib.md5(f"{seed}:push:{event_id}".encode()).hexdigest(),
            "has_succeeded": True,
            "try_count": 1,
            "last_returned_code": 200,
            "data": {
                "id": event_id,
                "title": f"Push {event_id}",
                "step": STEPS[0],
                "amount": round(r.uniform(10_000, 900_000), 2),
                "created_at": iso_us(created),
                "updated_at": iso_us(created),
                "user": {"email": agent_email(zipf_agent(r))},
                "description": f"due_us={due_us}",
            },
        }
    }


# ---------------------------------------------------------------------------
# documents.parquet for curation
# ---------------------------------------------------------------------------

_WORDS = (
    "market house price agent office lead contract bank credit loan buyer "
    "seller street city garden floor window kitchen report quarter sales "
    "growth income tax rate offer visit client manager team deal signed "
    "review meeting budget value north south river park school station "
    "energy light stone wood metal paper water green blue quick slow"
).split()
_STOP = ("the", "a", "of", "and", "is", "to", "in")
_SOURCES = ("crawl_a", "crawl_b", "forum", "news", "wiki")


@dataclass
class DocsTruth:
    n_docs: int
    exact_dups: int
    near_dups: int


def _sentence(r: random.Random, n: int) -> str:
    toks = []
    for _ in range(n):
        if r.random() < 0.25:
            toks.append(_STOP[r.randrange(len(_STOP))])
        else:
            toks.append(_WORDS[r.randrange(len(_WORDS))] + str(r.randrange(400)))
    return " ".join(toks)


def documents(seed: int, n_docs: int):
    """Rows for ``documents.parquet`` (doc_id, text, lang, source,
    n_chars) with planted exact and near duplicates, plus the truth."""
    r = random.Random(f"docs:{seed}")
    rows: list[tuple[int, str, str, str]] = []
    exact = near = 0
    for i in range(n_docs):
        doc_id = i + 1
        u = r.random()
        if rows and u < DUP_SHARE:
            _, text, lang, _src = rows[r.randrange(len(rows))]
            exact += 1
        elif rows and u < DUP_SHARE + NEAR_SHARE:
            _, base, lang, _src = rows[r.randrange(len(rows))]
            toks = base.split(" ")
            j = r.randrange(len(toks))
            toks[j] = _WORDS[r.randrange(len(_WORDS))] + "x"
            text = " ".join(toks)
            near += 1
        else:
            text = _sentence(r, r.randrange(40, 120))
            if r.random() < 0.1:
                text += f" contact agent{r.randrange(99)}@mail.example or 555-{r.randrange(1000, 9999)}"
            lang = "en" if r.random() < 0.7 else "zh"
        rows.append((doc_id, text, lang, _SOURCES[r.randrange(len(_SOURCES))]))
    return rows, DocsTruth(n_docs=n_docs, exact_dups=exact, near_dups=near)


def write_documents(path: str, rows) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "doc_id": pa.array([x[0] for x in rows], pa.int64()),
            "text": pa.array([x[1] for x in rows], pa.string()),
            "lang": pa.array([x[2] for x in rows], pa.string()),
            "source": pa.array([x[3] for x in rows], pa.string()),
            "n_chars": pa.array([len(x[1]) for x in rows], pa.int64()),
        }
    )
    pq.write_table(table, path)
