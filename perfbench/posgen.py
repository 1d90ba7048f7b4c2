"""Seeded synthetic POS receipt stream for the ``pos_etl`` workload.

One restaurant, about 150 receipts per local business day, served
12:00-21:59 local time. Receipt timestamps are UTC ISO strings with a
``Z`` suffix, six hours ahead of local time, so the pipeline's fixed
UTC-6 shift puts every receipt back on its local day.

Rules the generator keeps so that every tick is valid input:

- A receipt never repeats an item: ``(receipt_number, item_name)`` is
  the lake's dedup key.
- A day holds at most ``MAX_NEW`` receipts and a page re-delivers at
  most ``MAX_OVERLAP`` receipts of the day before, so a page never
  exceeds ``fetch_incremental``'s 175-row limit.
- Combo lines carry ``Hamburguesa``/``Refresco``/``Mayonesa``
  modifiers, so the combo explode, basket and mayo analyses run.
- Money is whole pesos, so the generator's own totals are exact.
"""

from __future__ import annotations

import datetime as dt
import random
from collections import defaultdict

MAX_NEW = 160
MAX_OVERLAP = 15
PAGE_LIMIT = 175  # fetch_incremental's default limit
UTC_OFFSET = dt.timedelta(hours=6)

# (item_name, price, cost) of the plain menu.
MENU = [
    ("Hamburguesa Smash", 129, 52),
    ("Hamburguesa Chicken", 119, 47),
    ("Doble Chicken", 159, 66),
    ("Papas Fritas", 49, 14),
    ("Papas Gajo", 55, 16),
    ("Aros de Cebolla", 59, 18),
    ("Malteada Chocolate", 69, 21),
    ("Malteada Fresa", 69, 21),
    ("Refresco Coca", 35, 11),
    ("Refresco Sprite", 35, 11),
    ("Agua Fresca", 30, 6),
    ("Alitas BBQ", 139, 58),
    ("Ensalada Cesar", 99, 35),
    ("Hot Dog", 59, 19),
]
# (item_name, price, cost, number of burgers in the combo).
COMBOS = [
    ("Combo Smash", 179, 72, 1),
    ("Combo Chiken", 169, 68, 1),
    ("Combo Pareja", 319, 131, 2),
]
BURGERS = ["Smash", "Chiken", "Chicken"]
DRINKS = ["Coca", "Sprite", "Coca Light"]
MAYOS = ["Ajo", "Chipotle", "Clasica"]
ORDER_TYPES = ["Mesa 2", "Mesa-4", "A domicilio", "Para Llevar", "01 Para Llevar", "Barra"]
PAYMENTS = ["CASH", "CARD"]
OPEN_MINUTE, CLOSE_MINUTE = 12 * 60, 22 * 60


def _iso(ts: dt.datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%S.000Z")


def _combo_line(rng: random.Random, name: str, price: int, cost: int, burgers: int) -> dict:
    mods = [{"name": "Hamburguesa", "option": rng.choice(BURGERS)} for _ in range(burgers)]
    mods.append({"name": "Refresco", "option": rng.choice(DRINKS)})
    mods.append({"name": "Papas", "option": "Francesa"})
    mods += [{"name": "Mayonesa", "option": rng.choice(MAYOS)} for _ in range(burgers)]
    return {"item_name": name, "cost": float(cost), "price": float(price),
            "total_money": float(price), "line_modifiers": mods}


def _plain_line(name: str, price: int, cost: int) -> dict:
    return {"item_name": name, "cost": float(cost), "price": float(price),
            "total_money": float(price), "line_modifiers": []}


def day_receipts(seed: int, day: dt.date, lo: int = 125, hi: int = 155) -> list[dict]:
    """The receipts of one local business day, oldest first. The same
    ``(seed, day)`` always gives the same receipts."""
    if hi > MAX_NEW:
        raise ValueError(f"at most {MAX_NEW} receipts a day, got {hi}")
    rng = random.Random(f"{seed}:{day.isoformat()}")
    n = rng.randint(lo, hi)
    minutes = sorted(rng.sample(range(OPEN_MINUTE, CLOSE_MINUTE), n))
    catalog = [(m, False) for m in MENU] + [(c, True) for c in COMBOS]
    out = []
    for i, minute in enumerate(minutes):
        local = dt.datetime.combine(day, dt.time()) + dt.timedelta(
            minutes=minute, seconds=rng.randrange(60)
        )
        stamp = _iso(local + UTC_OFFSET)
        lines = []
        for item, is_combo in rng.sample(catalog, rng.randint(1, 4)):
            lines.append(_combo_line(rng, *item) if is_combo else _plain_line(*item))
        out.append({
            "receipt_number": f"{day:%y%m%d}-{i + 1:04d}",
            "receipt_date": stamp,
            "created_at": stamp,
            "updated_at": stamp,
            "order": rng.choice(ORDER_TYPES),
            "payments": [{"type": rng.choice(PAYMENTS)}],
            "line_items": lines,
        })
    return out


def days(first: dt.date, last: dt.date) -> list[dt.date]:
    """Every date from ``first`` to ``last``, both included."""
    return [first + dt.timedelta(d) for d in range((last - first).days + 1)]


def receipts(seed: int, first: dt.date, last: dt.date) -> list[dict]:
    return [r for d in days(first, last) for r in day_receipts(seed, d)]


def page_for_tick(seed: int, tick_date: dt.date) -> list[dict]:
    """What the POS API returns on the morning of ``tick_date``: the
    whole previous business day, newest first, preceded by the last
    few receipts of the day before it (already ingested: the
    watermark filter must drop them)."""
    new = day_receipts(seed, tick_date - dt.timedelta(1))
    old = day_receipts(seed, tick_date - dt.timedelta(2))
    overlap = random.Random(f"{seed}:overlap:{tick_date}").randint(5, MAX_OVERLAP)
    page = list(reversed(old[-overlap:] + new))
    if len(page) > PAGE_LIMIT:
        raise ValueError(f"page of {len(page)} receipts exceeds {PAGE_LIMIT}")
    return page


def totals(rs: list[dict]) -> tuple[int, dict[str, float], str]:
    """(curated line rows, total_money per local ``YYYY-MM``, max
    ``updated_at``) of a list of receipts: the expected lake content."""
    per_month: dict[str, float] = defaultdict(float)
    rows = 0
    for r in rs:
        local = dt.datetime.strptime(r["receipt_date"], "%Y-%m-%dT%H:%M:%S.000Z") - UTC_OFFSET
        for li in r["line_items"]:
            rows += 1
            per_month[f"{local:%Y-%m}"] += li["total_money"]
    return rows, dict(per_month), max(r["updated_at"] for r in rs)
