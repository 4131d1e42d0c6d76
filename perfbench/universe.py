"""Seeded stage universe for the ``nightly_dag`` workload.

``tools/full_stage.STAGE_TABLES`` holds one coherent row per stage table
(company "10", client C1, article A1, May 2025). This module fans those
rows out with one scale parameter:

- companies: ``COMPANIES`` copies of the whole company-keyed universe
  ("10", "11", ...); country-level tables stay single;
- clients and articles: ``clients(scale)`` / ``articles(scale)`` per
  company, rewritten only in the tables that key on them;
- documents: ``docs(scale)`` sales/order/inventory documents per company
  and period, each with ``LINES`` detail lines on distinct articles;
- periods: March, April and May 2025 (every date shifted by whole months).

Every foreign key stays resolvable because a rewritten key is rewritten
the same way in every table that carries it, including inside the
``|``-joined surrogate ids. The seed draws each document's client and
article offset and every measure, so two seeds give the same volume and
different values. ``expected_counts`` gives the stage fact-table row
counts for a scale, ``expected_outputs`` the rows the fact jobs write.
"""

from __future__ import annotations

import datetime as dt
import random
from decimal import Decimal

COMPANIES = 2
LINES = 3
PERIOD_SHIFTS = (-2, -1, 0)  # months relative to the template's May 2025


def clients(scale: int) -> int:
    return 4 * scale


def articles(scale: int) -> int:
    return max(LINES, 2 * scale)


def docs(scale: int) -> int:
    return 10 * scale


# tables rewritten per client / per article (besides the facts)
CLIENT_MASTERS = {"m_cliente", "m_tipo_cliente", "m_asignacion_modulo"}
ARTICLE_MASTERS = {"m_articulo"}

# fact tables with one row per document (and per line for the details)
DOC_FACTS = {
    "t_documento_venta": 1,
    "t_documento_venta_detalle": LINES,
    "t_documento_pedido": 1,
    "t_documento_pedido_detalle": LINES,
    "t_documento_pedido_ades": 1,
    "t_documento_pedido_ades_detalle": LINES,
    "t_movimiento_inventario": 1,
    "t_movimiento_inventario_detalle": LINES,
    "t_movimiento_inventario_transito": 1,
}
# fact tables with one row per period and client / article / company
CLIENT_FACTS = {"t_historico_visita"}
ARTICLE_FACTS = {"t_toma_inventario_detalle", "t_cierre_inventario_cpm"}
PERIOD_FACTS = {"t_toma_inventario"}

# document-number values in the template rows; each document gets its own
DOC_KEYS = ("0001", "CP-0001", "N1", "N3", "900", "MV1", "MI1", "DA1", "M001")


def _shift(value, months: int):
    """Move a date or timestamp by whole months (day clamped to 28)."""
    if isinstance(value, dt.date):
        k = value.month - 1 + months
        return value.replace(
            year=value.year + k // 12, month=k % 12 + 1, day=min(value.day, 28)
        )
    return value


def _rewrite(row: tuple, subst: dict[str, str], months: int = 0) -> tuple:
    """Rewrite whole string values and ``|``-separated id segments through
    ``subst``; shift dates and timestamps by ``months``."""
    out = []
    for v in row:
        if isinstance(v, str):
            if v in subst:
                v = subst[v]
            elif "|" in v:
                v = "|".join(subst.get(p, p) for p in v.split("|"))
        elif months:
            v = _shift(v, months)
        out.append(v)
    return tuple(out)


def _jitter(row: tuple, rng: random.Random) -> tuple:
    """Scale every positive decimal measure by a seeded factor (keys and
    zero flags keep their values)."""
    out = []
    for v in row:
        if isinstance(v, Decimal) and v > 0:
            v = (v * Decimal(rng.randint(50, 150)) / Decimal(100)).quantize(
                Decimal("0.01")
            )
        out.append(v)
    return tuple(out)


def _period(months: int) -> str:
    y, m = 2025, 5 + months
    return f"{y:04d}{m:02d}"


def generate(stage_tables: dict, seed: int, scale: int) -> dict[str, tuple[str, list]]:
    """table → (ddl, rows) for the fanned-out universe."""
    rng = random.Random(seed)
    n_cli, n_art, n_doc = clients(scale), articles(scale), docs(scale)
    out: dict[str, tuple[str, list]] = {}
    for table, (ddl, template, _inst) in stage_tables.items():
        company_keyed = any(
            isinstance(v, str) and (v == "10" or v.startswith("10|"))
            for row in template for v in row
        )
        rows: list[tuple] = []
        for ci in range(COMPANIES if company_keyed else 1):
            comp = {"10": str(10 + ci)}
            if table in CLIENT_MASTERS:
                for k in range(n_cli):
                    sub = {**comp, "C1": f"C{k + 1}"}
                    rows += [_rewrite(r, sub) for r in template]
            elif table in ARTICLE_MASTERS:
                for a in range(n_art):
                    sub = {**comp, "A1": f"A{a + 1}"}
                    rows += [_jitter(_rewrite(r, sub), rng) for r in template]
            elif table in DOC_FACTS:
                for m in PERIOD_SHIFTS:
                    for d in range(n_doc):
                        # one draw per document, shared by every table
                        # that carries it (header, details, orders)
                        doc_rng = random.Random(f"{seed}:{ci}:{m}:{d}")
                        tag = f"{_period(m)}{d:05d}"
                        sub = {**comp, "C1": f"C{doc_rng.randrange(n_cli) + 1}"}
                        sub.update({k: f"{k}-{tag}" for k in DOC_KEYS})
                        first = doc_rng.randrange(n_art)
                        for j in range(DOC_FACTS[table]):
                            sub["A1"] = f"A{(first + j) % n_art + 1}"
                            rows += [
                                _jitter(_rewrite(r, sub, m), rng) for r in template
                            ]
            elif table in CLIENT_FACTS:
                for m in PERIOD_SHIFTS:
                    for k in range(n_cli):
                        sub = {**comp, "C1": f"C{k + 1}"}
                        rows += [_rewrite(r, sub, m) for r in template]
            elif table in ARTICLE_FACTS:
                for m in PERIOD_SHIFTS:
                    for a in range(n_art):
                        sub = {**comp, "A1": f"A{a + 1}", "202505": _period(m)}
                        rows += [_jitter(_rewrite(r, sub, m), rng) for r in template]
            elif table in PERIOD_FACTS:
                for m in PERIOD_SHIFTS:
                    rows += [_rewrite(r, comp, m) for r in template]
            else:
                rows += [_rewrite(r, comp) for r in template]
        out[table] = (ddl, rows)
    return out


def expected_counts(stage_tables: dict, scale: int) -> dict[str, int]:
    """Stage fact-table row counts the generator produces for ``scale``
    (independent of the seed)."""
    periods = len(PERIOD_SHIFTS)
    out = {}
    for table, (_ddl, template, _inst) in stage_tables.items():
        n = len(template) * COMPANIES * periods
        if table in DOC_FACTS:
            out[table] = n * docs(scale) * DOC_FACTS[table]
        elif table in CLIENT_FACTS:
            out[table] = n * clients(scale)
        elif table in ARTICLE_FACTS:
            out[table] = n * articles(scale)
        elif table in PERIOD_FACTS:
            out[table] = n
    return out


def expected_outputs(scale: int) -> dict[str, int]:
    """Rows each fact job (and the client/article masters) writes for
    ``scale``: one per document, line, or client visit in the periods."""
    docs_total = COMPANIES * len(PERIOD_SHIFTS) * docs(scale)
    lines = docs_total * LINES
    return {
        "m_cliente_lite": COMPANIES * clients(scale),
        "m_articulo_lite": COMPANIES * articles(scale),
        "t_venta_lite": docs_total,
        "t_venta_detalle_lite": lines,
        "t_pedido_lite": 2 * docs_total,
        "t_pedido_detalle_lite": 2 * lines,
        "t_movimiento_inventario_detalle_lite": lines,
        "t_visita_lite": COMPANIES * len(PERIOD_SHIFTS) * clients(scale),
        "fact_venta_detalle_lite": lines,
        "fact_reparto_detalle_lite": 2 * lines,
    }
