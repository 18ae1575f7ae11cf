"""Count the py4j round trips a driver-side call makes."""

from __future__ import annotations

import py4j.clientserver as cs
from py4j import protocol

# py4j frees a JVM object when its Python proxy is collected, whenever the
# collector happens to run; those commands are not the call's own work
_RELEASE = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME


def py4j_calls(fn):
    """(fn(), the number of commands it sent to the JVM, object releases
    not counted)."""
    calls = [0]
    send = cs.ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        if not command.startswith(_RELEASE):
            calls[0] += 1
        return send(self, command, *args, **kwargs)

    cs.ClientServerConnection.send_command = counted
    try:
        out = fn()
    finally:
        cs.ClientServerConnection.send_command = send
    return out, calls[0]
