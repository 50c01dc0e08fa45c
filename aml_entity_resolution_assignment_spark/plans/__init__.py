"""The staged, resumable ER pipeline (`plans.pipeline`)."""
