"""DuckDB reference for the gold layer, over the same parquet files.

Each panel is written once in SQL against a relation named ``snap``
(the current-state lead snapshot) and compared with the program's
output row by row. The SQL restates the dashboard semantics of
``plans.gold``: cumulative funnel, NULL-safe ratios, exact decimal
money sums, a rollup total row, top-10 ranking and the newest-first
detail page.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

STAGES = ("Referidos", "Asesorados", "Ingresados", "Autorizados", "Firmados")
REJECTED = "Rechazados"

_RANK = "CASE step " + " ".join(
    f"WHEN '{s}' THEN {i}" for i, s in enumerate(STAGES)
) + " END"


def _ratio(a: str, b: str) -> str:
    return f"CASE WHEN {b} = 0 THEN NULL ELSE CAST({a} AS DOUBLE) / {b} END"


def _stage_counts() -> str:
    return ", ".join(
        f"count(*) FILTER (WHERE __rank >= {i}) AS {s}" for i, s in enumerate(STAGES)
    ) + f", count(*) FILTER (WHERE step = '{REJECTED}') AS {REJECTED}"


def _money(expr: str) -> str:
    return f"CAST(sum(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE)"


PANEL_SQL = {
    "funnel": f"""
        SELECT {_stage_counts()} FROM (SELECT *, {_RANK} AS __rank FROM snap)""",
    "conversion_rates": f"""
        SELECT {_ratio('Firmados', 'Ingresados')} AS firmados_vs_ingresados,
               {_ratio('Autorizados', 'Ingresados')} AS aprobados_vs_ingresados,
               {_ratio('Ingresados', 'Asesorados')} AS ingresados_vs_asesorias,
               {_ratio('Referidos', 'Asesorados')} AS referidos_vs_asesorias,
               {_ratio('Firmados', 'Autorizados')} AS firmados_vs_aprobados
        FROM (SELECT {_stage_counts()} FROM (SELECT *, {_RANK} AS __rank FROM snap))""",
    "sales_totals": f"""
        SELECT {_money('amount')} AS monto_colocado,
               CASE WHEN count(amount) = 0 THEN NULL
                    ELSE {_money('amount')} / count(amount) END AS ticket_promedio,
               count(*) AS n_firmados
        FROM snap WHERE step = 'Firmados'""",
    # a rollup over no rows has no total row in Spark (the aggregate
    # has grouping keys), hence HAVING count(*) > 0
    "agent_table": f"""
        SELECT CASE WHEN g = 1 THEN 'Total'
                    ELSE coalesce(user_email, '(En blanco)') END AS asesor,
               monto_colocado, {", ".join(STAGES)}, {REJECTED},
               {_ratio('Autorizados', 'Ingresados')} AS autorizados_vs_ingresados,
               {_ratio('Firmados', 'Ingresados')} AS firmados_vs_ingresados,
               {_ratio('Firmados', 'Autorizados')} AS firmados_vs_autorizados
        FROM (
            SELECT user_email, grouping(user_email) AS g,
                   {_money("CASE WHEN step = 'Firmados' THEN amount END")} AS monto_colocado,
                   {_stage_counts()}
            FROM (SELECT *, {_RANK} AS __rank FROM snap)
            GROUP BY ROLLUP (user_email) HAVING count(*) > 0)""",
    "agent_ranking": f"""
        SELECT user_email, monto_firmado, rnk FROM (
            SELECT user_email, monto_firmado,
                   row_number() OVER (ORDER BY monto_firmado DESC NULLS LAST,
                                      user_email ASC NULLS FIRST) AS rnk
            FROM (SELECT user_email, {_money('amount')} AS monto_firmado
                  FROM snap WHERE step = 'Firmados' GROUP BY user_email))
        WHERE rnk <= 10""",
    "goal_progress": f"""
        SELECT p.account, p.month_start, p.placed, g.goal,
               CASE WHEN g.goal = 0 THEN NULL ELSE p.placed / g.goal END AS pct_of_goal
        FROM (SELECT account, CAST(date_trunc('month', created_at_utc) AS DATE) AS month_start,
                     {_money('amount')} AS placed
              FROM snap WHERE step = 'Firmados' GROUP BY ALL) p
        LEFT JOIN goals g USING (account, month_start)""",
    "monthly_trend": f"""
        SELECT CAST(date_trunc('month', created_at_utc) AS DATE) AS month_start, step,
               count(*) AS n_leads, {_money('amount')} AS amount
        FROM snap GROUP BY ALL""",
    "detail_listing": """
        SELECT lead_id, title, user_email, step, amount, created_at_utc, updated_at_utc
        FROM snap ORDER BY updated_at_utc DESC NULLS LAST, lead_id ASC NULLS FIRST
        LIMIT 100""",
}
ORDERED = {"detail_listing"}

# latest non-deleted row per lead, leads with any delete removed
SNAPSHOT_SQL = """
    WITH s AS (SELECT * FROM read_parquet('{silver}/**/*.parquet', hive_partitioning = true)),
    live AS (SELECT * FROM s
             ANTI JOIN (SELECT DISTINCT lead_id FROM s WHERE event = 'lead.deleted') d
             USING (lead_id)
             WHERE event <> 'lead.deleted')
    SELECT * EXCLUDE (__rn) FROM (
        SELECT *, row_number() OVER (PARTITION BY lead_id ORDER BY received_at DESC, id DESC)
               AS __rn FROM live)
    WHERE __rn = 1"""


def connect():
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 1")
    return con


def register_goals(con, goals: list[tuple[str, dt.date, float]]) -> None:
    con.execute("CREATE OR REPLACE TABLE goals (account VARCHAR, month_start DATE, goal DOUBLE)")
    con.executemany("INSERT INTO goals VALUES (?, ?, ?)", goals)


def read_parquet_sql(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    return v


def _same(a, b) -> bool:
    a, b = _norm(a), _norm(b)
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _key(row) -> tuple:
    def k(v):
        v = _norm(v)
        return f"{v:.6g}" if isinstance(v, float) else str(v)

    return tuple((v is None, k(v)) for v in row)


def diff(got: list[tuple], want: list[tuple], ordered: bool) -> str | None:
    """None when the row lists match (order-insensitive unless
    ``ordered``), else a short description of the first mismatch."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    if not ordered:
        got, want = sorted(got, key=_key), sorted(want, key=_key)
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return f"row {i}: {g!r} != {w!r}"
    return None
