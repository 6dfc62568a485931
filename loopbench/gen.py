"""Seeded input generator and ground truth for the loop benchmark.

Everything the engine sees is made here from ``random.Random(seed)``:
CloudTrail- and Okta-shaped events (JSON ``raw`` documents with nested
objects and arrays), a static IAM/S3 inventory snapshot, and curation
documents. Background traffic never matches a rule; every alert comes
from a *planted incident* whose expected rule rows are recorded, so the
expected results table can be derived here without running Spark.

Incident actors are unique per incident, so correlation groups are
known: every unsuppressed alert row of one actor forms one group.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass, field

EPOCH = dt.datetime(2024, 3, 4, 0, 0, 0)
INTERVAL = dt.timedelta(minutes=5)
WINDOW = dt.timedelta(minutes=90)  # alert_queries.CUTOFF_MINUTES

BENIGN_CT = (
    "DescribeInstances", "GetObject", "ListBuckets", "AssumeRole",
    "PutObject", "GetCallerIdentity", "DescribeSecurityGroups",
    "ListUsers", "Decrypt", "GetBucketPolicy",
)
BENIGN_OKTA = (
    "user.authentication.sso", "app.oauth2.token.grant",
    "policy.evaluate_sign_on", "user.session.end",
)
REGIONS = ("us-east-1", "us-west-2", "eu-west-1", "ap-southeast-2")
COUNTRIES = ("United States", "Canada", "Germany", "Brazil", "India")
HOME_ACCOUNTS = ("111122223333", "444455556666", "777788889999")


@dataclass
class Row:
    """One row a rule emits for a planted incident."""

    rule: str
    object: str
    description: str
    event_time: dt.datetime
    actor: str
    suppressed: bool = False


@dataclass
class Interval:
    cloudtrail: list[tuple[dt.datetime, str]] = field(default_factory=list)
    okta: list[tuple[dt.datetime, str]] = field(default_factory=list)
    rows: list[Row] = field(default_factory=list)


def _ip(r: random.Random) -> str:
    return f"{r.randint(11, 197)}.{r.randint(0, 255)}.{r.randint(0, 255)}.{r.randint(1, 254)}"


def _acct(r: random.Random) -> str:
    return str(r.randint(10**11, 10**12 - 1))


class EventGen:
    """Events for consecutive 5-minute intervals (alert_tick) or whole
    days (alert_backfill). ``incidents`` planted per interval."""

    def __init__(self, seed: int, ct_per_interval: int, okta_per_interval: int,
                 incidents: int):
        self.r = random.Random(seed)
        self.seed = seed
        self.n_ct = ct_per_interval
        self.n_okta = okta_per_interval
        self.n_inc = incidents
        self._uid = 0
        self._pending: dict[int, list[tuple[str, tuple, Row]]] = {}

    def _next_uid(self) -> str:
        self._uid += 1
        return f"{self.seed}x{self._uid}"

    # -- event documents -------------------------------------------------
    def _ct(self, ts, name, arn, utype="IAMUser", account=None, ip=None,
            req=None, resp=None, err=None, extra=None) -> tuple:
        r = self.r
        doc = {
            "eventVersion": "1.08",
            "eventTime": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "eventSource": "iam.amazonaws.com",
            "eventName": name,
            "awsRegion": r.choice(REGIONS),
            "sourceIPAddress": ip or _ip(r),
            "userAgent": "aws-cli/2.15.0 Python/3.11",
            "recipientAccountId": account or r.choice(HOME_ACCOUNTS),
            "userIdentity": {
                "type": utype,
                "arn": arn,
                "accountId": account or "111122223333",
                "userName": arn.rsplit("/", 1)[-1],
                "sessionContext": {
                    "attributes": {"mfaAuthenticated": "true",
                                   "creationDate": ts.isoformat()},
                },
            },
            "requestParameters": req,
            "responseElements": resp,
            "requestID": f"{r.getrandbits(64):016x}",
            "eventID": f"{r.getrandbits(128):032x}",
        }
        if err:
            doc["errorCode"] = err
            doc["errorMessage"] = "User is not authorized to perform this action"
        if extra:
            doc.update(extra)
        return ts, json.dumps(doc, separators=(",", ":"))

    def _okta(self, ts, etype, user, result="SUCCESS", country=None,
              target=None, debug=None) -> tuple:
        r = self.r
        doc = {
            "uuid": f"{r.getrandbits(128):032x}",
            "published": ts.strftime("%Y-%m-%dT%H:%M:%S.000Z"),
            "eventType": etype,
            "actor": {"id": f"00u{r.getrandbits(40):010x}", "type": "User",
                      "alternateId": user, "displayName": user.split("@")[0]},
            "client": {
                "ipAddress": _ip(r),
                "userAgent": {"browser": "CHROME", "os": "Mac OS X"},
                "geographicalContext": {
                    "country": country or "United States",
                    "city": "Springfield",
                    "geolocation": {"lat": 39.8, "lon": -89.6},
                },
            },
            "outcome": {"result": result,
                        "reason": None if result == "SUCCESS" else "INVALID_CREDENTIALS"},
            "target": target or [],
            "debugContext": {"debugData": debug or {"requestUri": "/api/v1/authn"}},
        }
        return ts, json.dumps(doc, separators=(",", ":"))

    def _ts(self, start: dt.datetime, span: dt.timedelta) -> dt.datetime:
        # never on an interval boundary: the runner's merge bound is a
        # strict '>' on a boundary-aligned from_ts
        secs = int(span.total_seconds())
        return start + dt.timedelta(seconds=self.r.randint(1, secs - 1),
                                    microseconds=self.r.randint(0, 999) * 1000)

    def _burst(self, start: dt.datetime, span: dt.timedelta, n: int) -> list[dt.datetime]:
        """``n`` sorted times inside one 5-minute interval of the span, so
        a burst or a chain stays within an hour and within the
        60-minute correlation gap however long the span is."""
        k = self.r.randrange(int(span / INTERVAL))
        return sorted(self._ts(start + k * INTERVAL, INTERVAL) for _ in range(n))

    # -- background -----------------------------------------------------
    def _background(self, out: Interval, start, span, n_ct, n_okta) -> None:
        r = self.r
        for _ in range(n_ct):
            ts = self._ts(start, span)
            user = f"dev{r.randint(1, 400)}"
            arn = f"arn:aws:iam::{r.choice(HOME_ACCOUNTS)}:user/{user}"
            name = r.choice(BENIGN_CT)
            req = {"bucketName": f"logs-{r.randint(1, 50)}", "key": f"k/{r.getrandbits(32):08x}"}
            out.cloudtrail.append(self._ct(ts, name, arn, req=req))
        for _ in range(n_okta):
            ts = self._ts(start, span)
            user = f"emp{r.randint(1, 900)}@corp.example"
            if r.random() < 0.04:
                # a single failed sign-in per fresh user: never a burst
                fresh = f"typo{self._next_uid()}@corp.example"
                out.okta.append(self._okta(ts, "user.session.start", fresh, "FAILURE"))
            else:
                out.okta.append(self._okta(ts, r.choice(BENIGN_OKTA), user))

    # -- planted incidents ----------------------------------------------
    def _incident(self, out: Interval, start, span, kind: str) -> list[Row]:
        r = self.r
        uid = self._next_uid()
        ts = self._ts(start, span)
        rows: list[Row] = []
        acct = _acct(r)
        if kind in ("no_mfa_login", "no_mfa_office"):
            office = kind == "no_mfa_office"
            ip = f"198.51.100.{r.randint(1, 254)}" if office else _ip(r)
            arn = f"arn:aws:iam::{acct}:user/u{uid}"
            out.cloudtrail.append(self._ct(
                ts, "ConsoleLogin", arn, account=acct, ip=ip,
                resp={"ConsoleLogin": "Success"},
                extra={"additionalEventData": {"MFAUsed": "No"}}))
            rows.append(Row("CT_CONSOLE_LOGIN_NO_MFA_ALERT_QUERY", acct,
                            f"Console login without MFA by {arn} from {ip}", ts,
                            arn, suppressed=office))
        elif kind == "public_bucket":
            arn = f"arn:aws:iam::{acct}:user/web{uid}"
            bucket = f"site-assets-{uid}"
            grants = [
                {"Grantee": {"ID": f"{r.getrandbits(64):016x}", "xsi:type": "CanonicalUser"},
                 "Permission": "FULL_CONTROL"},
                {"Grantee": {"URI": "http://acs.amazonaws.com/groups/global/AllUsers",
                             "xsi:type": "Group"}, "Permission": "READ"},
            ]
            out.cloudtrail.append(self._ct(
                ts, "PutBucketAcl", arn, account=acct,
                req={"bucketName": bucket,
                     "AccessControlPolicy": {"AccessControlList": {"Grant": grants}}}))
            rows.append(Row("CT_S3_BUCKET_PUBLIC_ALERT_QUERY", bucket,
                            f"Bucket {bucket} granted READ to AllUsers", ts, arn))
        elif kind == "kms_deletion":
            arn = f"arn:aws:iam::{acct}:user/ops{uid}"
            key = f"{r.getrandbits(128):032x}"
            out.cloudtrail.append(self._ct(
                ts, "ScheduleKeyDeletion", arn, account=acct,
                req={"keyId": key, "pendingWindowInDays": r.choice((7, 14, 30))}))
            rows.append(Row("CT_KMS_KEY_DELETION_ALERT_QUERY", key,
                            f"KMS key {key} scheduled for deletion", ts, arn))
        elif kind == "denied_burst":
            arn = f"arn:aws:iam::{acct}:user/probe{uid}"
            times = self._burst(start, span, r.randint(5, 9))
            for t in times:
                out.cloudtrail.append(self._ct(
                    t, r.choice(("GetSecretValue", "ListSecrets", "GetParameter")),
                    arn, account=acct, err="AccessDenied"))
            rows.append(Row("CT_ACCESS_DENIED_BURST_ALERT_QUERY", arn,
                            f"Burst of AccessDenied errors by {arn}", times[0], arn))
        elif kind == "brute_force":
            user = f"victim{uid}@corp.example"
            times = self._burst(start, span, r.randint(5, 12))
            for t in times:
                out.okta.append(self._okta(t, "user.session.start", user, "FAILURE"))
            rows.append(Row("OKTA_BRUTE_FORCE_ALERT_QUERY", user,
                            f"Repeated failed Okta sign-ins for {user}", times[0], user))
        elif kind == "admin_grant":
            admin = f"iam{uid}@corp.example"
            user = f"grantee{uid}@corp.example"
            country = r.choice(COUNTRIES[2:])
            out.okta.append(self._okta(
                ts, "user.account.privilege.grant", admin, country=country,
                target=[{"type": "User", "alternateId": user}],
                debug={"privilegeGranted": "Super administrator"}))
            rows.append(Row("OKTA_ADMIN_GRANTED_ABROAD_ALERT_QUERY", user,
                            f"Super administrator granted to {user} from {country}",
                            ts, admin))
        elif kind == "redteam":
            ip = _ip(r)
            out.cloudtrail.append(self._ct(
                ts, "StopLogging", f"arn:aws:iam::{acct}:user/redteam{uid}",
                account=acct, ip=ip, req={"name": f"trail-{uid}"}))
            rows.append(Row("CT_LOGGING_DISABLED_ALERT_QUERY", acct,
                            f"CloudTrail trail-{uid} stopped (StopLogging)", ts,
                            f"arn:aws:iam::{acct}:user/redteam{uid}", suppressed=True))
        elif kind == "chain":
            # one actor: login without MFA, stop the trail, attach admin —
            # three rules, one object (the account), one correlation group
            arn = f"arn:aws:iam::{acct}:user/intruder{uid}"
            ip = _ip(r)
            t1, t2, t3 = self._burst(start, span, 3)
            out.cloudtrail.append(self._ct(
                t1, "ConsoleLogin", arn, account=acct, ip=ip,
                resp={"ConsoleLogin": "Success"},
                extra={"additionalEventData": {"MFAUsed": "No"}}))
            name = r.choice(("StopLogging", "DeleteTrail"))
            out.cloudtrail.append(self._ct(
                t2, name, arn, account=acct, ip=ip, req={"name": f"trail-{uid}"}))
            out.cloudtrail.append(self._ct(
                t3, "AttachUserPolicy", arn, account=acct, ip=ip,
                req={"userName": f"u{uid}",
                     "policyArn": "arn:aws:iam::aws:policy/AdministratorAccess"}))
            rows += [
                Row("CT_CONSOLE_LOGIN_NO_MFA_ALERT_QUERY", acct,
                    f"Console login without MFA by {arn} from {ip}", t1, arn),
                Row("CT_LOGGING_DISABLED_ALERT_QUERY", acct,
                    f"CloudTrail trail-{uid} stopped ({name})", t2, arn),
                Row("CT_ADMIN_POLICY_ATTACHED_ALERT_QUERY", acct,
                    f"AdministratorAccess attached to u{uid} by {arn}", t3, arn),
            ]
        else:  # pragma: no cover
            raise ValueError(kind)
        return rows

    KINDS = (
        "no_mfa_login", "no_mfa_office", "public_bucket", "kms_deletion",
        "denied_burst", "brute_force", "admin_grant", "redteam", "chain",
    )
    # kinds whose single source event may be seen again within the
    # 90-minute window (a repeat re-emits the identical event later)
    REPEATABLE = ("public_bucket", "kms_deletion")

    def interval(self, index: int, span: dt.timedelta = INTERVAL) -> Interval:
        """Events for the ``index``-th span after EPOCH (a 5-minute
        interval, or a backfill day)."""
        start = EPOCH + index * span
        out = Interval()
        self._background(out, start, span, self.n_ct, self.n_okta)
        for k in range(self.n_inc):
            kind = self.KINDS[(index * 5 + k) % len(self.KINDS)]
            pos = len(out.cloudtrail), len(out.okta)
            rows = self._incident(out, start, span, kind)
            out.rows += rows
            if kind in self.REPEATABLE and span == INTERVAL and self.r.random() < 0.5:
                # identical event re-delivered 1-10 intervals later: the
                # same (OBJECT, DESCRIPTION) key, so merges really match
                ev = (out.cloudtrail[pos[0]:] or out.okta[pos[1]:])[0]
                later = index + self.r.randint(1, 10)
                self._pending.setdefault(later, []).append(
                    (kind, ev, rows[0]))
        for kind, (_, raw), row in self._pending.pop(index, []):
            ts = self._ts(start, span)
            doc = json.loads(raw)
            doc["eventTime"] = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
            out.cloudtrail.append((ts, json.dumps(doc, separators=(",", ":"))))
            out.rows.append(Row(row.rule, row.object, row.description, ts,
                                row.actor, row.suppressed))
        return out


# -- static IAM inventory (violation rules) -----------------------------
@dataclass
class Inventory:
    snapshot_at: dt.datetime
    iam_users: list[tuple[dt.datetime, str]]
    # expected violating objects per violation rule; exempt = suppressed
    expected: dict[str, set[str]]
    exempt: set[str]


def inventory(seed: int, n_users: int = 400) -> Inventory:
    r = random.Random(seed * 7919 + 1)
    snap = EPOCH - dt.timedelta(hours=1)
    users = []
    exp = {"IAM_USER_NO_MFA_VIOLATION_QUERY": set(),
           "IAM_ACCESS_KEY_STALE_VIOLATION_QUERY": set()}
    exempt: set[str] = set()
    for i in range(n_users):
        name = (f"svc-break-glass-{i}" if i % 25 == 0 else f"user-{seed}-{i}")
        no_mfa = r.random() < 0.2
        keys = []
        for j in range(r.randint(0, 2)):
            age = r.randint(1, 200)
            keys.append({"AccessKeyId": f"AKIA{seed}{i:05d}{j}",
                         "Status": "Active",
                         "LastUsedDate": (snap - dt.timedelta(days=age, hours=3))
                         .strftime("%Y-%m-%d %H:%M:%S")})
            if age > 90:  # DATEDIFF(day) counts day boundaries
                exp["IAM_ACCESS_KEY_STALE_VIOLATION_QUERY"].add(f"{name}/{keys[-1]['AccessKeyId']}")
                if name.startswith("svc-break-glass"):
                    exempt.add(f"{name}/{keys[-1]['AccessKeyId']}")
        doc = {"UserName": name, "Arn": f"arn:aws:iam::111122223333:user/{name}",
               "CreateDate": "2021-06-01T00:00:00Z",
               "MFADevices": [] if no_mfa else [{"SerialNumber": f"arn:mfa/{name}"}],
               "AccessKeys": keys, "Tags": [{"Key": "team", "Value": f"t{i % 9}"}]}
        users.append((snap, json.dumps(doc, separators=(",", ":"))))
        if no_mfa:
            exp["IAM_USER_NO_MFA_VIOLATION_QUERY"].add(name)
            if name.startswith("svc-break-glass"):
                exempt.add(name)
    return Inventory(snap, users, exp, exempt)


# -- expected alerts: the runner's merge semantics over planted rows ----
def expected_alerts(runs: list[tuple[dt.datetime, dt.datetime, list[Row]]]) -> list[dict]:
    """Replay scheduled runs ``(from_ts, to_ts, rows landed so far)``
    through the documented merge: per rule, rows in [from, to] group by
    (OBJECT, DESCRIPTION) into (counter = rows, event_time = min); a
    stored alert with the same key and event_time > from_ts absorbs the
    counter, otherwise the group inserts a new alert."""
    stored: list[dict] = []
    for frm, to, rows in runs:
        groups: dict[tuple, dict] = {}
        for row in rows:
            if not (frm <= row.event_time <= to):
                continue
            g = groups.setdefault((row.rule, row.object, row.description), {
                "rule": row.rule, "object": row.object,
                "description": row.description, "event_time": row.event_time,
                "actor": row.actor, "suppressed": row.suppressed, "counter": 0})
            g["counter"] += 1
            g["event_time"] = min(g["event_time"], row.event_time)
        for g in groups.values():
            hits = [a for a in stored
                    if (a["object"], a["description"]) == (g["object"], g["description"])
                    and a["event_time"] > frm]
            for a in hits:
                a["counter"] += g["counter"]
            if not hits:
                stored.append(dict(g))
    return stored


# -- curation documents --------------------------------------------------
_SYL = ("ka", "lo", "mi", "ren", "tu", "vas", "pe", "dor", "shi", "an",
        "bel", "co", "fi", "gra", "hu", "jo", "qui", "sta", "ve", "zen")
BOILERPLATE = (
    "subscribe to our newsletter for weekly updates on security research and tooling",
    "all rights reserved no part of this page may be reproduced without written permission",
    "this article was generated from public advisories and reviewed by the editorial team",
)


@dataclass
class DocTick:
    docs: list[dict]
    # ids the gate rejects; ids the near-dup tier drops
    rejected: set[int]
    dropped: set[int]


class DocGen:
    def __init__(self, seed: int):
        self.r = random.Random(seed * 104729 + 3)
        self.next_id = 1
        self.kept: list[dict] = []  # near-dup sources: kept, no boilerplate

    def _word(self) -> str:
        r = self.r
        return "".join(r.choice(_SYL) for _ in range(r.randint(2, 4))) + str(r.randint(0, 99))

    def tick(self, n: int) -> DocTick:
        r = self.r
        docs, rejected, dropped = [], set(), set()
        fresh_sources = []
        for _ in range(n):
            i = self.next_id
            self.next_id += 1
            u = r.random()
            if u < 0.08:
                kind = r.choice(("short", "lang", "repetitive"))
                text = {"short": "buy now cheap deals",
                        "lang": " ".join(self._word() for _ in range(40)),
                        "repetitive": " ".join(["spam"] * 40)}[kind]
                docs.append({"doc_id": i, "text": text,
                             "lang": "xx" if kind == "lang" else "en", "source": "crawl"})
                rejected.add(i)
            elif u < 0.14 and (self.kept or fresh_sources):
                # near-dup of a kept doc (an earlier tick's, or earlier in
                # this tick): last word changed
                src = r.choice(self.kept + fresh_sources)
                words = src["text"].split(" ")
                words[-1] = self._word()
                docs.append({"doc_id": i, "text": " ".join(words), "lang": "en",
                             "source": "mirror"})
                dropped.add(i)
            elif u < 0.17 and fresh_sources:
                # exact in-tick copy with a larger id: in-batch dedup
                src = r.choice(fresh_sources)
                docs.append({"doc_id": i, "text": src["text"], "lang": "en",
                             "source": "mirror"})
                dropped.add(i)
            else:
                words = [self._word() for _ in range(r.randint(60, 90))]
                text = "the report " + " ".join(words) + " ends"
                doc = {"doc_id": i, "text": text, "lang": r.choice(("en", "de", "fr")),
                       "source": "crawl"}
                if r.random() < 0.15:
                    doc["text"] += " " + r.choice(BOILERPLATE)
                else:
                    fresh_sources.append(doc)
                docs.append(doc)
        self.kept += fresh_sources
        return DocTick(docs, rejected, dropped)


def expected_substring(docs: list[dict], window: int, seen: set[int]) -> dict[int, tuple[int, int]]:
    """Keep-one substring removal in arrival order: a window occurrence
    is cut when an identical window occurred earlier (earlier doc, or
    earlier position). Returns doc_id -> (removed_chars, n_windows).
    ``seen`` carries window hashes across ticks."""
    out = {}
    for d in sorted(docs, key=lambda d: d["doc_id"]):
        t = d["text"]
        cut = []
        for p in range(len(t) - window + 1):
            h = hash(t[p:p + window])
            if h in seen:
                cut.append(p)
            else:
                seen.add(h)
        removed = set()
        for p in cut:
            removed.update(range(p, p + window))
        out[d["doc_id"]] = (len(removed), len(cut))
    return out
