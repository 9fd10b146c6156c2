"""Seeded generator for the loan ETL's dirty input CSVs.

Writes ``<out_dir>/data/applications_expanded.csv`` and
``<out_dir>/data/lms_updates_expanded.csv`` in the reference layout, so
``etl.oracle_sql._oracles(out_dir)`` replays the pipeline over exactly
the files the Spark side reads.

Every dirty class of FIXTURES.md §A1/§A2 is produced at the reference
rate: at the reference size (200 applications, 177 LMS rows) the
flag counts are the FIXTURES anchors exactly (dup=2,
non-positive-loan=1, credit-missing=8, credit-out-of-range=2,
postal-invalid=3, type-invalid=1, size-invalid=3,
size-for-heat-pump=11, quarantined=1); at ``n`` applications each count
scales by ``n / 200``. Dirty rows are disjoint, so every flag count is
exact by construction rather than by chance.

Generation constraints honoured (FIXTURES.md, bottom): one whitespace
run per dirty email, literal ``NULL`` strings in numeric/date columns,
over-wide rows overflow by exactly one field, and blank ids exist so
the IN-subquery duplicate flag is NULL for them.

    python3 perfbench/gen_loans.py OUT_DIR [--apps N] [--seed S]
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import random

REF_APPS = 200
REF_LMS = 177

APP_HEADER = (
    "application_id,customer_email,installer_partner_id,installation_type,"
    "system_size_kwp,loan_amount_eur,loan_term_months,application_date,"
    "credit_score,annual_income_eur,postal_code,status"
)
LMS_HEADER = (
    "loan_id,application_id,disbursement_date,current_balance_eur,"
    "days_past_due,payment_status,last_payment_date,next_payment_due"
)

# Dirty-row counts at the reference size (applications). Each class is
# a disjoint set of rows; the first nine are the FIXTURES anchors.
APP_DIRTY = {
    "quarantined": 1,
    "duplicate": 2,
    "loan_non_positive": 1,
    "credit_missing": 8,
    "credit_out_of_range": 2,
    "postal_invalid": 3,
    "type_invalid": 1,
    "size_invalid": 3,
    "size_for_heat_pump": 11,
    # classes without an anchor in the report (reference instances)
    "id_blank": 1,
    "income_missing": 1,
    "income_zero": 1,
    "email_dirty": 5,
    "date_extreme": 2,
    "installer_unknown": 1,
}

# Dirty-row counts at the reference size (LMS updates).
LMS_DIRTY = {
    "app_id_blank": 1,
    "app_id_bad_format": 1,
    "app_id_orphan": 1,
    "disbursement_null": 1,
    "balance_negative": 1,
    "dpd_blank": 1,
    "dpd_negative": 3,
    "status_upper": 1,
    "next_and_last_before_disbursement": 5,
    "last_before_disbursement": 3,
}
LMS_LOAN_ID_DUP_ROWS = 140
LMS_APP_ID_DUP_ROWS = 68

INSTALLERS = [f"INST_{i:03d}" for i in range(1, 11)]
DAY0 = dt.date(2024, 1, 1)


def scaled(count: int, n: int, ref: int) -> int:
    """``count`` at the reference size, scaled to ``n`` rows (never
    below 1 for a class the reference has)."""
    return max(1, round(count * n / ref)) if count else 0


def _assign(rng: random.Random, n: int, counts: dict[str, int], ref: int,
            reserved: set[int]) -> dict[int, str]:
    """Map row index -> dirty class, disjoint, outside ``reserved``."""
    free = [i for i in range(n) if i not in reserved]
    rng.shuffle(free)
    roles: dict[int, str] = {}
    for name, c in counts.items():
        for _ in range(scaled(c, n, ref)):
            roles[free.pop()] = name
    return roles


def _app_rows(rng: random.Random, n: int) -> tuple[list[str], list[dict]]:
    width = max(3, len(str(n)))
    # One over-wide row sits near the top so a sampling CSV sniffer
    # sees the 13th column; the others are anywhere.
    first_q = rng.randrange(min(n, 20))
    roles = _assign(rng, n, APP_DIRTY, REF_APPS, {first_q})
    # swap one quarantined row to the reserved early slot
    q_rows = [i for i, r in roles.items() if r == "quarantined"]
    del roles[q_rows[0]]
    roles[first_q] = "quarantined"

    dup_rows = sorted(i for i, r in roles.items() if r == "duplicate")
    dup_of = {b: a for a, b in zip(dup_rows[0::2], dup_rows[1::2])}
    if len(dup_rows) % 2 and len(dup_rows) >= 3:  # odd: last joins a pair
        dup_of[dup_rows[-1]] = dup_rows[-3]

    lines: list[str] = []
    good: list[dict] = []
    ids: dict[int, str] = {}
    counter = {"email": 0, "size": 0, "credit": 0, "postal": 0, "date": 0}
    for i in range(n):
        role = roles.get(i)
        app_id = f"APP{i + 1:0{width}d}"
        if role == "duplicate" and i in dup_of:
            app_id = ids[dup_of[i]]
        ids[i] = app_id
        email = f"customer{i + 1}@example.de"
        installer = INSTALLERS[rng.randrange(len(INSTALLERS))]
        itype = rng.choices(("solar_pv", "solar_battery", "heat_pump"), (5, 3, 2))[0]
        size = f"{rng.randint(30, 150) / 10:.1f}" if itype != "heat_pump" else ""
        amount = str(rng.randrange(5000, 60001, 100))
        term = str(rng.choice((60, 84, 120, 180, 240)))
        app_date = (DAY0 + dt.timedelta(days=rng.randrange(731))).isoformat()
        credit = str(min(850, max(300, round(rng.gauss(700, 60)))))
        income = str(rng.randrange(25000, 150001, 500))
        postal = f"{rng.randrange(100000):05d}"
        status = rng.choices(("approved", "declined", "pending"), (144, 32, 23))[0]

        if role == "id_blank":
            app_id = ""
        elif role == "loan_non_positive":
            amount = "-5000"
        elif role == "credit_missing":
            credit = ""
        elif role == "credit_out_of_range":
            credit = ("950", "250")[counter["credit"] % 2]
            counter["credit"] += 1
        elif role == "postal_invalid":
            postal = ("invalid", "1234", "")[counter["postal"] % 3]
            counter["postal"] += 1
        elif role == "type_invalid":
            itype, size = "wind_turbine", "6.0"
        elif role == "size_invalid":
            itype = "solar_pv"
            size = ("", "NULL", "0", "-5.0")[counter["size"] % 4]
            counter["size"] += 1
        elif role == "size_for_heat_pump":
            itype, size = "heat_pump", f"{rng.randint(50, 120) / 10:.1f}"
        elif role == "income_missing":
            income = ""
        elif role == "income_zero":
            income = "0"
        elif role == "email_dirty":
            k = counter["email"] % 5
            counter["email"] += 1
            email = (
                f"CUSTOMER{i + 1}@EXAMPLE.DE",
                f"customer{i + 1}@example.de   ",
                f"customer{i + 1}\t@example.de",
                "",
                f"müller{i + 1}@example.de",
            )[k]
        elif role == "date_extreme":
            app_date = ("2031-06-30", "1999-01-15")[counter["date"] % 2]
            counter["date"] += 1
        elif role == "installer_unknown":
            installer = "INST_999"
        elif role == "quarantined":
            email = f"quarantine{i + 1},comma@example.de"

        fields = [app_id, email, installer, itype, size, amount, term, app_date,
                  credit, income, postal, status]
        lines.append(",".join(fields))
        if role != "quarantined":
            good.append({"id": app_id, "amount": amount, "date": app_date,
                         "status": status})
    return lines, good


def _lms_rows(rng: random.Random, n_lms: int, apps: list[dict]) -> list[str]:
    roles = _assign(rng, n_lms, LMS_DIRTY, REF_LMS, set())
    width = max(3, len(str(len(apps))))

    # application ids: disjoint dup groups (size 2) then singletons
    pool = [a for a in apps if a["id"]]
    seen: set[str] = set()
    uniq = [a for a in pool if not (a["id"] in seen or seen.add(a["id"]))]
    rng.shuffle(uniq)
    normal = [i for i in range(n_lms) if roles.get(i) not in
              ("app_id_blank", "app_id_bad_format", "app_id_orphan")]
    rng.shuffle(normal)
    n_app_dup = min(scaled(LMS_APP_ID_DUP_ROWS, n_lms, REF_LMS), len(normal))
    app_of: dict[int, dict] = {}
    k = 0
    for j, row in enumerate(normal):
        if j < n_app_dup:
            app_of[row] = uniq[(j // 2) % len(uniq)]
            k = j // 2 + 1
        else:
            app_of[row] = uniq[(k + j - n_app_dup) % len(uniq)]

    # loan ids: duplicate groups of size 2..7, then unique ids
    order = list(range(n_lms))
    rng.shuffle(order)
    n_loan_dup = scaled(LMS_LOAN_ID_DUP_ROWS, n_lms, REF_LMS)
    loan_of: dict[int, str] = {}
    pos, gid, size = 0, 0, 2
    while pos < n_loan_dup:
        take = min(size, n_loan_dup - pos)
        if take == 1:  # a singleton group would not be a duplicate
            loan_of[order[pos]] = loan_of[order[pos - 1]]
            pos += 1
            break
        for r in order[pos:pos + take]:
            loan_of[r] = f"LN{gid:08d}"
        pos, gid, size = pos + take, gid + 1, 2 + (size - 1) % 6
    for r in order[pos:]:
        loan_of[r] = f"LN{gid:08d}"
        gid += 1

    lines: list[str] = []
    dpd_neg = 0
    for i in range(n_lms):
        role = roles.get(i)
        app = app_of.get(i) or uniq[rng.randrange(len(uniq))]
        app_id = app["id"]
        base = dt.date.fromisoformat(app["date"]) if app["date"] < "2030" else DAY0
        disb = base + dt.timedelta(days=rng.randrange(10, 61))
        amount = abs(float(app["amount"]))
        balance = f"{rng.uniform(0, amount):.2f}"
        dpd_v = rng.choices((0, rng.randint(1, 30), rng.randint(31, 90),
                             rng.randint(91, 200)), (70, 15, 10, 5))[0]
        dpd = str(dpd_v)
        status = ("current" if dpd_v == 0 else "late" if dpd_v <= 30
                  else "delinquent" if dpd_v <= 90 else "default")
        last = disb + dt.timedelta(days=30 * rng.randrange(0, 10))
        nxt = last + dt.timedelta(days=30)
        disb_s = disb.isoformat()

        if role == "app_id_blank":
            app_id = ""
        elif role == "app_id_bad_format":
            app_id = "APP_DECLINED"
        elif role == "app_id_orphan":
            app_id = "APP" + "9" * (width + 1)
        elif role == "disbursement_null":
            disb_s = "NULL"
        elif role == "balance_negative":
            balance = "-5000"
        elif role == "dpd_blank":
            dpd, status = "", "pending"
        elif role == "dpd_negative":
            dpd = ("-5", "-1")[min(dpd_neg, 1)]
            dpd_neg += 1
        elif role == "status_upper":
            dpd, status = "0", "CURRENT"
        elif role == "next_and_last_before_disbursement":
            last, nxt = disb - dt.timedelta(days=20), disb - dt.timedelta(days=10)
        elif role == "last_before_disbursement":
            last, nxt = disb - dt.timedelta(days=5), disb + dt.timedelta(days=25)

        lines.append(",".join([loan_of[i], app_id, disb_s, balance, dpd, status,
                               last.isoformat(), nxt.isoformat()]))
    return lines


def generate(out_dir: str, n_apps: int = REF_APPS, seed: int = 0) -> dict[str, str]:
    """Write both CSVs; returns {"applications": path, "lms": path}."""
    rng = random.Random(seed)
    n_lms = round(n_apps * REF_LMS / REF_APPS)
    app_lines, good = _app_rows(rng, n_apps)
    lms_lines = _lms_rows(rng, n_lms, good)
    data = os.path.join(out_dir, "data")
    os.makedirs(data, exist_ok=True)
    paths = {
        "applications": os.path.join(data, "applications_expanded.csv"),
        "lms": os.path.join(data, "lms_updates_expanded.csv"),
    }
    for key, header, lines in (("applications", APP_HEADER, app_lines),
                               ("lms", LMS_HEADER, lms_lines)):
        with open(paths[key], "w", encoding="utf-8", newline="") as f:
            f.write(header + "\n" + "\n".join(lines) + "\n")
    return paths


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--apps", type=int, default=REF_APPS)
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args()
    print(generate(args.out_dir, args.apps, args.seed))


if __name__ == "__main__":
    main()
