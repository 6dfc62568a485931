"""The benchmark's rule corpus, written in the Snowflake dialect.

Eight ``_ALERT_QUERY`` rules over the ``cloudtrail`` and ``okta``
landing views, two alert suppressions, two ``_VIOLATION_QUERY`` rules
over the ``iam_users`` inventory view and one violation suppression:
thirteen rule runs per scheduled run. Between them they use multi-colon
and bracket paths, ``::type`` casts, IFF, DATEADD, DATEDIFF, QUALIFY
inside a CTE, LATERAL FLATTEN, OBJECT_CONSTRUCT and SELECT-alias reuse
in WHERE.
Every alert routes to the in-memory ``loopbench`` handler.

``TITLES`` maps each alert and violation rule to the title its SQL
emits, so a run can report rows whose stored title drifts from it.
"""

from __future__ import annotations

HANDLER = "loopbench"

# columns every alert rule shares after its own title/actor/object/...
_TAIL = (
    "'loopbench' AS detector, 'prod' AS environment, "
    f"ARRAY('{{src}}') AS sources, ARRAY('{HANDLER}') AS handlers"
)


def _tail(src: str) -> str:
    return _TAIL.format(src=src)


ALERTS: dict[str, tuple[str, str]] = {
    "CT_CONSOLE_LOGIN_NO_MFA_ALERT_QUERY": ("Console login without MFA", f"""
SELECT 'Console login without MFA' AS title,
       raw['userIdentity']['arn']::string AS actor,
       raw['recipientAccountId']::string AS object,
       'ConsoleLogin' AS action,
       'Console login without MFA by ' || raw['userIdentity']['arn']::string
         || ' from ' || raw['sourceIPAddress']::string AS description,
       event_time,
       'high' AS severity,
       raw AS event_data,
       {_tail('cloudtrail')}
FROM cloudtrail
WHERE raw['eventName']::string = 'ConsoleLogin'
  AND raw['additionalEventData']['MFAUsed']::string = 'No'
  AND raw['userIdentity']['type']::string = 'IAMUser'
"""),
    "CT_S3_BUCKET_PUBLIC_ALERT_QUERY": ("S3 bucket ACL grants public access", f"""
SELECT 'S3 bucket ACL grants public access' AS title,
       raw:userIdentity:arn::string AS actor,
       raw:requestParameters:bucketName::string AS object,
       'PutBucketAcl' AS action,
       'Bucket ' || raw:requestParameters:bucketName::string || ' granted '
         || g.value:Permission::string || ' to AllUsers' AS description,
       event_time,
       'high' AS severity,
       raw AS event_data,
       {_tail('cloudtrail')}
FROM cloudtrail,
     LATERAL FLATTEN(input => raw:requestParameters:AccessControlPolicy:AccessControlList:Grant) g
WHERE raw:eventName::string = 'PutBucketAcl'
  AND g.value:Grantee:URI::string LIKE '%/global/AllUsers'
"""),
    "CT_LOGGING_DISABLED_ALERT_QUERY": ("CloudTrail logging disabled", f"""
SELECT 'CloudTrail logging disabled' AS title,
       raw:userIdentity:arn::string AS actor,
       raw:recipientAccountId::string AS object,
       raw:eventName::string AS action,
       'CloudTrail ' || raw:requestParameters:name::string
         || ' stopped (' || raw:eventName::string || ')' AS description,
       event_time,
       IFF(raw:eventName::string = 'DeleteTrail', 'critical', 'high') AS severity,
       raw AS event_data,
       {_tail('cloudtrail')}
FROM cloudtrail
WHERE raw:eventName::string IN ('StopLogging', 'DeleteTrail')
"""),
    "CT_ADMIN_POLICY_ATTACHED_ALERT_QUERY": ("Administrator policy attached", f"""
SELECT 'Administrator policy attached' AS title,
       raw:userIdentity:arn::string AS actor,
       raw:recipientAccountId::string AS object,
       'AttachUserPolicy' AS action,
       raw:requestParameters:policyArn::string AS policy_arn,
       'AdministratorAccess attached to ' || raw:requestParameters:userName::string
         || ' by ' || raw:userIdentity:arn::string AS description,
       event_time,
       'critical' AS severity,
       raw AS event_data,
       {_tail('cloudtrail')}
FROM cloudtrail
WHERE raw:eventName::string = 'AttachUserPolicy'
  AND policy_arn LIKE '%/AdministratorAccess'
"""),
    "CT_KMS_KEY_DELETION_ALERT_QUERY": ("KMS key scheduled for deletion", f"""
SELECT 'KMS key scheduled for deletion' AS title,
       raw:userIdentity:arn::string AS actor,
       raw:requestParameters:keyId::string AS object,
       'ScheduleKeyDeletion' AS action,
       'KMS key ' || raw:requestParameters:keyId::string
         || ' scheduled for deletion' AS description,
       event_time,
       'high' AS severity,
       OBJECT_CONSTRUCT(
         'key_id', raw:requestParameters:keyId::string,
         'deletion_at', DATEADD(day, raw:requestParameters:pendingWindowInDays::int, event_time),
         'region', raw:awsRegion::string
       ) AS event_data,
       {_tail('cloudtrail')}
FROM cloudtrail
WHERE raw:eventName::string = 'ScheduleKeyDeletion'
"""),
    "CT_ACCESS_DENIED_BURST_ALERT_QUERY": ("Burst of denied API calls", f"""
WITH denied AS (
  SELECT raw:userIdentity:arn::string AS arn,
         raw:recipientAccountId::string AS account,
         event_time,
         COUNT(*) OVER (
           PARTITION BY raw:userIdentity:arn::string, DATE_TRUNC('HOUR', event_time)
         ) AS n
  FROM cloudtrail
  WHERE raw:errorCode::string = 'AccessDenied'
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY raw:userIdentity:arn::string, DATE_TRUNC('HOUR', event_time)
    ORDER BY event_time
  ) = 1
)
SELECT 'Burst of denied API calls' AS title,
       arn AS actor,
       arn AS object,
       'AccessDenied' AS action,
       'Burst of AccessDenied errors by ' || arn AS description,
       event_time,
       'medium' AS severity,
       OBJECT_CONSTRUCT('denied_calls', n, 'account', account) AS event_data,
       {_tail('cloudtrail')}
FROM denied
WHERE n >= 5
"""),
    "OKTA_BRUTE_FORCE_ALERT_QUERY": ("Okta brute force", f"""
SELECT 'Okta brute force' AS title,
       raw:actor:alternateId::string AS actor,
       raw:actor:alternateId::string AS object,
       'user.session.start' AS action,
       'Repeated failed Okta sign-ins for ' || raw:actor:alternateId::string AS description,
       MIN(event_time) AS event_time,
       'high' AS severity,
       OBJECT_CONSTRUCT('failures', COUNT(*)) AS event_data,
       {_tail('okta')}
FROM okta
WHERE raw:eventType::string = 'user.session.start'
  AND raw:outcome:result::string = 'FAILURE'
GROUP BY raw:actor:alternateId::string, DATE_TRUNC('HOUR', event_time)
HAVING COUNT(*) >= 5
"""),
    "OKTA_ADMIN_GRANTED_ABROAD_ALERT_QUERY": ("Admin privilege granted from abroad", f"""
SELECT 'Admin privilege granted from abroad' AS title,
       raw:actor:alternateId::string AS actor,
       raw:target[0]:alternateId::string AS object,
       'user.account.privilege.grant' AS action,
       raw:debugContext:debugData:privilegeGranted::string || ' granted to '
         || raw:target[0]:alternateId::string || ' from '
         || raw:client:geographicalContext:country::string AS description,
       event_time,
       IFF(raw:debugContext:debugData:privilegeGranted::string LIKE 'Super%',
           'critical', 'high') AS severity,
       raw AS event_data,
       {_tail('okta')}
FROM okta
WHERE raw:eventType::string = 'user.account.privilege.grant'
  AND raw:client:geographicalContext:country::string NOT IN ('United States', 'Canada')
"""),
}

ALERT_SUPPRESSIONS = {
    "REDTEAM_ACTIVITY_ALERT_SUPPRESSION": """
SELECT alert.ALERT_ID
FROM data_alerts
WHERE suppressed IS NULL
  AND alert.ACTOR LIKE '%:user/redteam%'
""",
    "OFFICE_NETWORK_NO_MFA_ALERT_SUPPRESSION": """
SELECT alert.ALERT_ID
FROM data_alerts
WHERE suppressed IS NULL
  AND alert.QUERY_NAME = 'CT_CONSOLE_LOGIN_NO_MFA_ALERT_QUERY'
  AND alert.DESCRIPTION LIKE '% from 198.51.100.%'
""",
}

_VTAIL = "'loopbench' AS DETECTOR, 'prod' AS ENVIRONMENT"

VIOLATIONS: dict[str, tuple[str, str]] = {
    "IAM_USER_NO_MFA_VIOLATION_QUERY": ("IAM user without MFA", f"""
SELECT 'IAM user without MFA' AS TITLE,
       raw:UserName::string AS OBJECT,
       'IAM user ' || raw:UserName::string || ' has no MFA device' AS DESCRIPTION,
       'medium' AS SEVERITY,
       raw:Tags[0]:Value::string AS OWNER,
       {_VTAIL}
FROM iam_users
WHERE raw:MFADevices[0]:SerialNumber::string IS NULL
"""),
    "IAM_ACCESS_KEY_STALE_VIOLATION_QUERY": ("Stale IAM access key", f"""
SELECT 'Stale IAM access key' AS TITLE,
       raw:UserName::string || '/' || k.value:AccessKeyId::string AS OBJECT,
       'Access key ' || k.value:AccessKeyId::string || ' of '
         || raw:UserName::string || ' unused for over 90 days' AS DESCRIPTION,
       DATEDIFF(day, k.value:LastUsedDate::timestamp, snapshot_at) AS unused_days,
       'low' AS SEVERITY,
       {_VTAIL}
FROM iam_users, LATERAL FLATTEN(input => raw:AccessKeys) k
WHERE unused_days > 90
"""),
}

VIOLATION_SUPPRESSIONS = {
    "BREAK_GLASS_ACCOUNTS_VIOLATION_SUPPRESSION": """
SELECT id
FROM data_violations
WHERE suppressed IS NULL
  AND result:OBJECT::string LIKE 'svc-break-glass%'
""",
}

TITLES = {name: title for name, (title, _) in (ALERTS | VIOLATIONS).items()}


def register(registry) -> None:
    """Register the whole corpus into a RuleRegistry."""
    for name, (title, sql) in (ALERTS | VIOLATIONS).items():
        registry.create(name, sql=sql, comment=f"{title}\n@id {name.lower()}")
    for name, sql in (ALERT_SUPPRESSIONS | VIOLATION_SUPPRESSIONS).items():
        registry.create(name, sql=sql, comment=name.replace("_", " ").title())
