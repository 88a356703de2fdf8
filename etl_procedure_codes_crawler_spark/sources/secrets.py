"""Secrets (SURVEY §2.1 S7, §2.6 F23/F25).

Reference: ``crawler/src/utils/secret_manager.py:8-23`` fetches a JSON
payload from AWS Secrets Manager and ``procedure_code.py:680-684``
parses it with ``json.loads``. Secrets are resolved ONCE on the driver
and travel to executors inside picklable objects (the login hook, the
JDBC options), never re-fetched per task: at 1000 executors a per-task
secrets call is a rate-limit outage.

The job takes a :class:`SecretProvider`, so tests hand it an in-memory
one; the AWS client is imported only when the provider is built.
"""

from __future__ import annotations

import json
from typing import Protocol


class SecretProvider(Protocol):
    def get_secret(self, secret_id: str) -> str:
        """Return the raw secret payload (usually a JSON string)."""
        ...


class AwsSecretsManagerProvider:
    """AWS Secrets Manager (``utils/secret_manager.py:8-23``). The region
    and credentials come from boto3's own environment and config lookup."""

    def __init__(self):
        import boto3

        self._client = boto3.client("secretsmanager")

    def get_secret(self, secret_id: str) -> str:
        try:
            response = self._client.get_secret_value(SecretId=secret_id)
        except self._client.exceptions.ResourceNotFoundException:
            raise KeyError(f"secret not found: {mask_secret_id(secret_id)}") from None
        return response["SecretString"]


def parse_secret_json(payload: str) -> dict:
    """F23: JSON secret payload → dict (``procedure_code.py:680-684``)."""
    return json.loads(payload)


def mask_secret_id(secret_id: str) -> str:
    """F25: log-safe masking (``utils/postgres.py:10,13``) — keep the
    first half, replace the rest with ``***``."""
    if not secret_id:
        return "***"
    return secret_id[: len(secret_id) // 2] + "***"
