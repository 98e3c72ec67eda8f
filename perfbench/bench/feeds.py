"""Seeded bank-feed generator for the etl_nightly workload.

Writes, for days 1..D starting at START:
  terminals_DDMMYYYY.xlsx          full terminal snapshot (zip + XML, Cyrillic
                                   cities/addresses, blank filler rows)
  passport_blacklist_DDMMYYYY.xlsx cumulative blacklist (Excel serial dates,
                                   blank filler rows)
  transactions_DDMMYYYY.txt        ';'-separated, decimal commas, whitespace-
                                   padded header and first row
and the bank.* dimension tables (clients/accounts/cards) as parquet.

Planted on purpose: SCD2 adds, attribute changes and deletes every day; a
blacklisted-on-day-k passport, an expired passport, an expired contract and a
two-cities-in-one-hour card for each of the three fraud rules.

`Feeds.expected` derives what a correct nightly replay must leave behind,
independently of the program: the SCD2 history after each night (a direct
simulation of the documented SCD2 semantics), the blacklist, the fact row
counts, and the fraud mart per report day (the three rules in DuckDB SQL).
"""
import datetime as dt
import os
import random
import zipfile
from decimal import Decimal
from xml.sax.saxutils import escape

import pyarrow as pa
import pyarrow.parquet as pq

START = dt.date(2021, 3, 1)
SENTINEL = dt.datetime(2999, 12, 31, 23, 59, 59)
CITIES = ["Кемерово", "Новосибирск", "Томск", "Барнаул", "Омск", "Красноярск",
          "Иркутск", "Екатеринбург"]
STREETS = ["ул. Ленина", "пр. Мира", "ул. Советская", "ул. Гагарина",
           "ул. Кирова", "пр. Строителей", "ул. Весенняя", "ул. Садовая"]
LAST = ["Иванов", "Петров", "Сидоров", "Кузнецов", "Смирнов", "Попов"]
FIRST = ["Иван", "Пётр", "Сергей", "Алексей", "Дмитрий", "Олег"]
PATR = ["Иванович", "Петрович", "Сергеевич", "Алексеевич", "Олегович"]
OPER_TYPES = ["PAYMENT", "DEPOSIT", "WITHDRAW"]


def day_tag(d):
    return d.strftime("%d%m%Y")


def excel_serial(d):
    return (d - dt.date(1899, 12, 30)).days


# ---------------------------------------------------------------- xlsx ----

def _col(i):
    return "ABCDEFGHIJKLMNOPQRSTUVWXYZ"[i]


def write_xlsx(path, rows):
    """Minimal single-sheet workbook. `rows` are lists of cells; a cell is
    None (styled blank), a str (shared string) or an int (number)."""
    strings, index = [], {}
    sheet_rows = []
    for r, row in enumerate(rows, start=1):
        cells = []
        for c, v in enumerate(row):
            ref = f"{_col(c)}{r}"
            if v is None:
                cells.append(f'<c r="{ref}" s="1"></c>')
            elif isinstance(v, int):
                cells.append(f'<c r="{ref}" s="2"><v>{v}</v></c>')
            else:
                if v not in index:
                    index[v] = len(strings)
                    strings.append(v)
                cells.append(f'<c r="{ref}" t="s"><v>{index[v]}</v></c>')
        sheet_rows.append(f'<row r="{r}">{"".join(cells)}</row>')
    sheet = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
             '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
             f'<sheetData>{"".join(sheet_rows)}</sheetData></worksheet>')
    sst = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
           '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
           f'count="{len(strings)}" uniqueCount="{len(strings)}">'
           + "".join(f"<si><t>{escape(s)}</t></si>" for s in strings) + "</sst>")
    ct = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
          '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
          '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
          '<Default Extension="xml" ContentType="application/xml"/>'
          '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
          '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
          '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
          '</Types>')
    rels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>')
    wb = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
          '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
          'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
          '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>')
    wb_rels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
               '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
               '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
               '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
               '</Relationships>')
    # fixed timestamps keep the archive bytes a pure function of the rows
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in (("[Content_Types].xml", ct), ("_rels/.rels", rels),
                           ("xl/workbook.xml", wb),
                           ("xl/_rels/workbook.xml.rels", wb_rels),
                           ("xl/worksheets/sheet1.xml", sheet),
                           ("xl/sharedStrings.xml", sst)):
            z.writestr(zipfile.ZipInfo(name, (2021, 3, 1, 0, 0, 0)),
                       body.encode("utf-8"))


# ------------------------------------------------------------- the model --

class Feeds:
    """The generated world: dims, per-day snapshots, blacklist, transactions."""

    def __init__(self, seed, days, tx_per_day, n_clients=400, n_terminals=150):
        self.days = days
        rng = random.Random(seed)
        self.dates = [START + dt.timedelta(days=k) for k in range(days)]

        # terminals: day-1 snapshot, then planted adds / changes / deletes
        def new_terminal(tid):
            return {"terminal_id": tid,
                    "terminal_type": "ATM" if tid[0] == "A" else "POS",
                    "terminal_city": rng.choice(CITIES),
                    "terminal_address": f"{rng.choice(STREETS)}, д. {rng.randint(1, 99)}"}

        used_ids = set()

        def fresh_id():
            while True:
                tid = f"{rng.choice('AP')}{rng.randint(1000, 9999)}"
                if tid not in used_ids:
                    used_ids.add(tid)
                    return tid

        current = {}
        for _ in range(n_terminals):
            t = new_terminal(fresh_id())
            current[t["terminal_id"]] = t
        self.snapshots = []
        for k, d in enumerate(self.dates):
            if k > 0:
                current = {tid: dict(t) for tid, t in current.items()}
                ids = sorted(current)
                for tid in rng.sample(ids, 2):          # planted changes
                    current[tid]["terminal_address"] = \
                        f"{rng.choice(STREETS)}, д. {rng.randint(100, 199)}"
                moved = rng.choice(ids)                 # a city change
                current[moved]["terminal_city"] = rng.choice(
                    [c for c in CITIES if c != current[moved]["terminal_city"]])
                for tid in rng.sample(ids, 1):          # planted delete
                    del current[tid]
                for _ in range(2):                      # planted adds
                    t = new_terminal(fresh_id())
                    current[t["terminal_id"]] = t
            self.snapshots.append({tid: dict(t) for tid, t in current.items()})

        # bank.* dims
        self.clients, self.accounts, self.cards = [], [], []
        passports = set()
        for i in range(n_clients):
            while True:
                p = f"{rng.randint(1000, 9999)} {rng.randint(100000, 999999)}"
                if p not in passports:
                    passports.add(p)
                    break
            self.clients.append({
                "client_id": f"{i + 1}",
                "last_name": rng.choice(LAST), "first_name": rng.choice(FIRST),
                "patronymic": rng.choice(PATR), "passport_num": p,
                "passport_valid_to": dt.date(2030, 1, 1),
                "phone": f"+7 9{rng.randint(10, 99)} {rng.randint(100, 999)} "
                         f"{rng.randint(10, 99)} {rng.randint(10, 99)}"})
        for c in self.clients:
            for _ in range(rng.choice((1, 1, 2))):
                acc = f"40817810{len(self.accounts) + 1:012d}"
                self.accounts.append({"account": acc,
                                      "valid_to": dt.date(2030, 1, 1),
                                      "client": c["client_id"]})
                card = " ".join(str(rng.randint(1000, 9999)) for _ in range(4))
                # cards carry a space pad; the view joins on trim()
                self.cards.append({"card_num": card + " ", "account": acc})
        last_day = self.dates[-1]
        # rule 1 (expired passport) and rule 2 (expired contract) positives:
        # expiry falls inside the replay, so only later days flag
        self.expired_clients = rng.sample(self.clients, 3)
        for c in self.expired_clients:
            c["passport_valid_to"] = START + dt.timedelta(days=rng.randint(0, max(0, days - 2)))
        self.expired_accounts = rng.sample(self.accounts, 3)
        for a in self.expired_accounts:
            a["valid_to"] = START + dt.timedelta(days=rng.randint(0, max(0, days - 2)))

        # cumulative blacklist: 7 historical entries, then new ones per day
        # (entry_dt = the feed day, so no entry reaches back to a loaded day)
        hist_entry = START - dt.timedelta(days=30)
        bl_clients = rng.sample(self.clients, 7 + 2 * days)
        self.blacklist_days = []
        entries = [(c["passport_num"], hist_entry - dt.timedelta(days=i))
                   for i, c in enumerate(bl_clients[:7])]
        for k, d in enumerate(self.dates):
            if k > 0:
                entries = entries + [(c["passport_num"], d)
                                     for c in bl_clients[7 + 2 * k: 9 + 2 * k]]
            self.blacklist_days.append(list(entries))
        # an unrelated passport too: blacklisted, but no client holds it
        self.blacklist_days = [e + [("0000 000001", hist_entry)]
                               for e in self.blacklist_days]

        # transactions
        card_list = [c["card_num"].strip() for c in self.cards]
        self.tx = []  # per day: list of dicts
        next_id = 10000000000 + rng.randint(0, 10 ** 9)
        for k, d in enumerate(self.dates):
            term_ids = sorted(self.snapshots[k])
            by_city = {}
            for tid in term_ids:
                by_city.setdefault(self.snapshots[k][tid]["terminal_city"], []).append(tid)
            seen = set()
            rows = []

            def add(card, ts, tid):
                nonlocal next_id
                if (card, ts) in seen:
                    return
                seen.add((card, ts))
                cents = rng.randint(100, 9_000_000)
                rows.append({"trans_id": str(next_id), "trans_date": ts,
                             "amt": Decimal(cents) / 100, "card_num": card,
                             "oper_type": rng.choice(OPER_TYPES),
                             "oper_result": rng.choice(("SUCCESS", "SUCCESS", "REJECT")),
                             "terminal": tid})
                next_id += 1

            day0 = dt.datetime.combine(d, dt.time())
            for _ in range(tx_per_day):
                add(rng.choice(card_list),
                    day0 + dt.timedelta(seconds=rng.randint(0, 86399)),
                    rng.choice(term_ids))
            # rule 3 positives: the same card in two cities within the hour
            cities = sorted(c for c in by_city if by_city[c])
            for _ in range(3):
                card = rng.choice(card_list)
                c1, c2 = rng.sample(cities, 2)
                t0 = day0 + dt.timedelta(seconds=rng.randint(0, 80000))
                add(card, t0, rng.choice(by_city[c1]))
                add(card, t0 + dt.timedelta(seconds=rng.randint(60, 3000)),
                    rng.choice(by_city[c2]))
            # rule 1 and 2 positives: transactions by today's newly
            # blacklisted, by expired passports, on expired contracts
            def card_of_account(acc):
                return next(c["card_num"].strip() for c in self.cards if c["account"] == acc)

            def card_of_client(client):
                return card_of_account(next(a["account"] for a in self.accounts
                                            if a["client"] == client["client_id"]))
            flagged = [card_of_client(next(c for c in self.clients if c["passport_num"] == p))
                       for p, e in self.blacklist_days[k] if e == d]
            flagged += [card_of_client(c) for c in self.expired_clients
                        if c["passport_valid_to"] < d]
            flagged += [card_of_account(a["account"]) for a in self.expired_accounts
                        if a["valid_to"] < d]
            for card in flagged:
                add(card, day0 + dt.timedelta(seconds=rng.randint(0, 86399)),
                    rng.choice(term_ids))
            rows.sort(key=lambda r: r["trans_id"])
            self.tx.append(rows)

    # ------------------------------------------------------------ writers --

    def write(self, feed_dir, bank_dir):
        """Write every day's feeds and the dims."""
        os.makedirs(feed_dir, exist_ok=True)
        for k in range(self.days):
            self.write_day(feed_dir, k)
        self.write_bank(bank_dir)

    def write_day(self, feed_dir, k):
        d = self.dates[k]
        tag = day_tag(d)
        snap = self.snapshots[k]
        rows = [["terminal_id", "terminal_type", "terminal_city", "terminal_address"]]
        for i, tid in enumerate(sorted(snap)):
            t = snap[tid]
            rows.append([tid, t["terminal_type"], t["terminal_city"], t["terminal_address"]])
            if i == 40:
                rows.append([None, None, None, None])   # blank filler row
        rows += [[None, None, None, None]] * 3
        write_xlsx(os.path.join(feed_dir, f"terminals_{tag}.xlsx"), rows)

        rows = [["date", "passport"]]
        for i, (p, e) in enumerate(self.blacklist_days[k]):
            rows.append([excel_serial(e), p])
            if i == 3:
                rows.append([None, None])
        rows += [[None, None]] * 5
        write_xlsx(os.path.join(feed_dir, f"passport_blacklist_{tag}.xlsx"), rows)

        lines = ["transaction_id;transaction_date;amount;card_num;oper_type;"
                 "oper_result;terminal"]
        for r in self.tx[k]:
            lines.append(";".join((
                r["trans_id"], r["trans_date"].strftime("%Y-%m-%d %H:%M:%S"),
                f"{r['amt']:.2f}".replace(".", ","), r["card_num"],
                r["oper_type"], r["oper_result"], r["terminal"])))
        # the dirty-data vector: padded header and first row
        lines[0] = "  " + lines[0].replace(";", " ; ") + "  "
        lines[1] = " " + "; ".join(f" {f} " for f in lines[1].split(";"))
        with open(os.path.join(feed_dir, f"transactions_{tag}.txt"), "w",
                  encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")

    def write_bank(self, bank_dir):
        os.makedirs(bank_dir, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(self.clients, schema=pa.schema([
            ("client_id", pa.string()), ("last_name", pa.string()),
            ("first_name", pa.string()), ("patronymic", pa.string()),
            ("passport_num", pa.string()), ("passport_valid_to", pa.date32()),
            ("phone", pa.string())])), os.path.join(bank_dir, "clients.parquet"))
        pq.write_table(pa.Table.from_pylist(self.accounts, schema=pa.schema([
            ("account", pa.string()), ("valid_to", pa.date32()),
            ("client", pa.string())])), os.path.join(bank_dir, "accounts.parquet"))
        pq.write_table(pa.Table.from_pylist(self.cards, schema=pa.schema([
            ("card_num", pa.string()), ("account", pa.string())])),
            os.path.join(bank_dir, "cards.parquet"))

    # ----------------------------------------------------------- expected --

    def scd2_history(self):
        """History after each night: SCD2 over the daily snapshots, versions
        closing one second before the load, deletes as flagged versions."""
        hist, out = [], []
        attrs = ("terminal_type", "terminal_city", "terminal_address")
        for k, d in enumerate(self.dates):
            load = dt.datetime.combine(d, dt.time())
            close = load - dt.timedelta(seconds=1)
            snap = self.snapshots[k]
            active = {h["terminal_id"]: h for h in hist
                      if h["effective_to"] == SENTINEL and h["deleted_flg"] == 0}
            tombs = {h["terminal_id"] for h in hist
                     if h["effective_to"] == SENTINEL and h["deleted_flg"] == 1}
            new = [t for tid, t in snap.items() if tid not in active]
            gone = [h for tid, h in active.items() if tid not in snap]
            changed = [snap[tid] for tid, h in active.items()
                       if tid in snap and any(snap[tid][a] != h[a] for a in attrs)]
            closing = {h["terminal_id"] for h in gone} | \
                {t["terminal_id"] for t in changed} | (tombs & set(snap))
            nxt = []
            for h in hist:
                h = dict(h)
                if h["terminal_id"] in closing and h["effective_to"] == SENTINEL:
                    h["effective_to"] = close
                nxt.append(h)

            def version(t, flag):
                return {"terminal_id": t["terminal_id"],
                        **{a: t[a] for a in attrs}, "deleted_flg": flag,
                        "effective_from": load, "effective_to": SENTINEL}
            nxt += [version(t, 0) for t in new + changed]
            nxt += [version(h, 1) for h in gone]
            hist = nxt
            out.append(sorted(hist, key=lambda h: (h["terminal_id"], h["effective_from"])))
        return out

    def expected_mart(self):
        """rep_fraud rows per report day, the three rules in DuckDB SQL over
        the generated tables (a second implementation of the documented
        rules, not the program's). Night d runs as of d 23:59, so its view
        joins day d's terminal snapshot and covers days d-1 and d."""
        import duckdb
        con = duckdb.connect()
        con.register("clients", pa.Table.from_pylist(self.clients))
        con.register("accounts", pa.Table.from_pylist(self.accounts))
        con.register("cards", pa.Table.from_pylist(self.cards))
        tx_rows = [dict(r, amt=float(r["amt"])) for day in self.tx for r in day]
        con.register("tx", pa.Table.from_pylist(tx_rows))
        out = {}
        for k, d in enumerate(self.dates):
            snap = list(self.snapshots[k].values())
            con.register("term", pa.Table.from_pylist(snap))
            con.register("bl", pa.Table.from_pylist(
                [{"passport_num": p, "entry_dt": e} for p, e in self.blacklist_days[k]]))
            lo = d - dt.timedelta(days=1)
            rows = con.execute(f"""
              WITH v AS (
                SELECT concat_ws(' ', cl.last_name, cl.first_name, cl.patronymic) AS fio,
                       cl.passport_num, cl.passport_valid_to, cl.phone,
                       ac.valid_to, tx.card_num, tx.trans_date, t.terminal_city
                FROM tx
                JOIN cards c ON trim(tx.card_num) = trim(c.card_num)
                JOIN accounts ac ON c.account = ac.account
                JOIN clients cl ON ac.client = cl.client_id
                JOIN term t ON tx.terminal = t.terminal_id
                WHERE CAST(tx.trans_date AS DATE) BETWEEN DATE '{lo}' AND DATE '{d}'),
              r1 AS (
                SELECT DISTINCT trans_date AS event_dt, passport_num AS passport, fio, phone,
                       'Совершение операции при просроченном или заблокированном паспорте' AS event_type
                FROM v WHERE passport_valid_to < CAST(trans_date AS DATE)
                   OR EXISTS (SELECT 1 FROM bl WHERE bl.passport_num = v.passport_num
                              AND bl.entry_dt <= CAST(v.trans_date AS DATE))),
              r2 AS (
                SELECT DISTINCT trans_date, passport_num, fio, phone,
                       'Совершение операции при недействующем договоре'
                FROM v WHERE CAST(trans_date AS DATE) > valid_to),
              hop AS (
                SELECT *, lead(terminal_city) OVER w AS next_city,
                          lead(trans_date) OVER w AS next_ts
                FROM v WINDOW w AS (PARTITION BY card_num ORDER BY trans_date, terminal_city)),
              r3 AS (
                SELECT DISTINCT next_ts, passport_num, fio, phone,
                       'Совершение операций в разных городах в течение часа'
                FROM hop WHERE next_city IS NOT NULL AND next_city <> terminal_city
                  AND epoch(next_ts) - epoch(trans_date) <= 3600)
              SELECT * FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3)
              WHERE CAST(event_dt AS DATE) >= DATE '{d}'""").fetchall()
            out[d.isoformat()] = sorted(
                (e.strftime("%Y-%m-%d %H:%M:%S"), p, f, ph, t) for e, p, f, ph, t in rows)
        return out

    def expected(self):
        """Everything the output check compares, keyed by report day."""
        mart = self.expected_mart()
        hist = self.scd2_history()

        def ts(x):
            return x.strftime("%Y-%m-%d %H:%M:%S")
        nights = []
        for k, d in enumerate(self.dates):
            nights.append({
                "day": d.isoformat(),
                "mart": [list(r) for r in mart[d.isoformat()]],
                "hist": [[h["terminal_id"], h["terminal_type"], h["terminal_city"],
                          h["terminal_address"], h["deleted_flg"],
                          ts(h["effective_from"]), ts(h["effective_to"])]
                         for h in hist[k]],
                "blacklist": sorted([p, e.isoformat()] for p, e in
                                    {p: e for p, e in self.blacklist_days[k]}.items()),
                "fact_rows": len(self.tx[k]),
                "fact_amt": f"{sum(r['amt'] for r in self.tx[k]):.2f}",
            })
        return nights
